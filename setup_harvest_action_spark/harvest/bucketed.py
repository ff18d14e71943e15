"""Bucket-pruned harvest merge — the load path's 100 TB form.

``harvest_run`` (load.py) ping-pongs the WHOLE ``terms`` /
``term_fields`` state through parquet per batch: correct, but O(table)
I/O per page — quadratic over a long run.  The reference's own commit
unit is one page (reference: harvest.py:374) and its upsert touches
only the page's keys (harvest.py:326-349, :363-372), so the scalable
Spark form is a *partition-pruned merge*:

* state lives hash-partitioned on ``bucket = pmod(xxhash64(uri), N)``
  (``terms/bucket=K/``, ``term_fields/bucket=K/``); a term and all its
  fields share a bucket (the field bucket is derived from the parent
  uri), so FK resolution never crosses buckets;
* per batch, the touched bucket set is collected (≤N small ints — the
  same class of driver-side metadata as Delta's file pruning, and the
  only collect in the package besides the max-id scalar);
* ONLY touched buckets are read (partition pruning at the parquet
  scan: a batch of 1 000 uris over N=64 reads ≤64/64 buckets of *keys
  present*, independent of table size ... with a realistic page the
  expected fraction is ``1 - exp(-pagesize/N)`` of N, and the read is
  bounded by touched-bucket bytes, not table bytes);
* merged buckets are written to a fresh per-commit directory
  (``data/<commit>/bucket_p=K/``, files never renamed or rewritten in
  place) and made visible by ONE atomic manifest flip
  (``_manifest.json`` maps bucket → current directory) — the
  manifest-commit protocol of ``sources/manifest_sink.py``.  Readers
  resolve the manifest first, so they can never observe a
  half-committed multi-bucket merge (the r6 per-bucket ``os.replace``
  swap had a window where some buckets were new and some old, and
  directory renames don't exist on S3-class stores; the single
  manifest flip is the object-store-safe boundary — on S3 it is a
  conditional PUT of one key).  Untouched buckets' files are never
  rewritten (byte-identical, pinned by tests/test_harvest_bucketed.py);
  a crash after data write but before the flip leaves orphan data
  directories that ``vacuum()`` reclaims and readers never see.  On
  Delta/Iceberg the same algebra is ``MERGE INTO`` with partition
  predicates; this is the plain-filesystem analogue with the identical
  I/O profile.

The merge itself is the one in ``harvest/load.py``
(``_terms_merge_branches``, ``_fields_fresh_rows``, ``_observed_union``);
this layout passes in its id assigner and commits through its own
manifest.  Surrogate ids are ``xxhash64`` of the key (``_hash_assign``):
fully parallel, stable across reruns, no global max-id scan — density
is a SQLite artifact the bucketed path deliberately drops (SURVEY.md
§1.3).

A rerun of the same page inserts nothing, advances ``updated_at`` on
its touched term buckets only, and SKIPS the ``term_fields`` commit
entirely when the anti-join yields zero fresh rows.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from setup_harvest_action_spark.harvest.load import (
    LoadStats,
    _fields_fresh_rows,
    _observed_union,
    _terms_merge_branches,
)
from setup_harvest_action_spark.harvest.normalize import clean_bindings, unpivot_bindings
from setup_harvest_action_spark.schemas import TERM_FIELDS, TERMS


def _with_bucket(schema: StructType) -> StructType:
    return StructType(list(schema.fields) + [StructField("bucket", IntegerType(), True)])


TERMS_BUCKETED = _with_bucket(TERMS)
TERM_FIELDS_BUCKETED = _with_bucket(TERM_FIELDS)


def _bucket_of(uri_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(uri_col), F.lit(n_buckets)).cast("int")


def _hash_assign(new_rows: DataFrame, existing: DataFrame, key: list[str]) -> DataFrame:
    """The bucketed layout's surrogate ids: ``xxhash64`` of the table key
    (see the module docstring) — ``existing`` is not consulted."""
    return new_rows.withColumn("id", F.xxhash64(*key))


MANIFEST = "_manifest.json"


class BucketedHarvestState:
    """Parquet state hash-partitioned by uri bucket, committed through
    a per-table manifest.

    Layout::

        root/
          _N_BUCKETS                  # bucket count, fixed at creation
          terms/
            _manifest.json            # {"buckets": {"4": "data/<c>/bucket_p=4", ...}}
            data/<commit>/bucket_p=K/part-*.parquet
          term_fields/  (same shape)

    ``bucket`` is carried BOTH as a data column (so reads of manifest-
    named leaf directories need no partition-column reconstruction)
    and as the ``bucket_p`` write partition (so each commit yields one
    directory per touched bucket for the manifest to point at).
    """

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64):
        self.spark = spark
        self.root = root
        meta = os.path.join(root, "_N_BUCKETS")
        if os.path.exists(meta):
            with open(meta, encoding="ascii") as fh:
                persisted = int(fh.read().strip())
            if persisted != n_buckets:
                raise ValueError(
                    f"state at {root} has n_buckets={persisted}, got {n_buckets}"
                )
        else:
            os.makedirs(root, exist_ok=True)
            with open(meta, "w", encoding="ascii") as fh:
                fh.write(str(n_buckets))
        self.n_buckets = n_buckets

    # -- manifest ------------------------------------------------------------

    def _manifest(self, table: str) -> dict:
        """The committed bucket → directory map (empty before the first
        commit; a crashed commit's data dirs are invisible here)."""
        mpath = os.path.join(self.root, table, MANIFEST)
        if not os.path.exists(mpath):
            # A table dir holding the pre-manifest bucket=K layout but
            # no manifest must fail LOUDLY: reading it as empty state
            # would silently resurrect nothing and re-insert everything
            # on the next merge.
            tdir = os.path.join(self.root, table)
            if os.path.isdir(tdir) and any(
                e.startswith("bucket=") for e in os.listdir(tdir)
            ):
                raise ValueError(
                    f"{tdir} holds a legacy bucket=K layout with no "
                    f"{MANIFEST}; refusing to read it as empty state — "
                    "rebuild or migrate the directory"
                )
            return {"buckets": {}}
        with open(mpath, encoding="utf-8") as fh:
            return json.load(fh)

    # -- reads ---------------------------------------------------------------

    def _read(self, table: str, schema: StructType, buckets: list[int]) -> DataFrame:
        """Manifest-resolved, bucket-pruned scan: ONLY the directories
        the manifest names for the requested buckets enter the scan —
        unrequested and uncommitted buckets are never listed at all
        (stronger than partition-filter pruning: the paths don't reach
        the file index).  Empty state → empty DataFrame."""
        current = self._manifest(table)["buckets"]
        if buckets is None:
            wanted = sorted(current, key=int)
        else:
            wanted = [str(b) for b in buckets if str(b) in current]
        paths = [os.path.join(self.root, table, current[b]) for b in wanted]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def terms(self, buckets: list[int] | None = None) -> DataFrame:
        return self._read("terms", TERMS_BUCKETED, buckets)

    def term_fields(self, buckets: list[int] | None = None) -> DataFrame:
        return self._read("term_fields", TERM_FIELDS_BUCKETED, buckets)

    # -- commit --------------------------------------------------------------

    def _commit(
        self,
        table: str,
        staged: DataFrame,
        touched: list[int] | None = None,
    ) -> None:
        """Write ``staged`` (touched buckets only) to a fresh
        ``data/<commit>/`` directory, then flip the table manifest ONCE
        to point the touched buckets at their new directories.  One
        data pass over touched buckets; untouched buckets keep their
        existing pointers and their files are never listed, read, or
        rewritten.  No file or directory is ever renamed or deleted on
        the commit path, so the protocol holds on rename-less object
        stores: the manifest replace is the single atomic visibility
        boundary (filesystem ``os.replace`` here; a conditional PUT of
        the manifest key on S3).  A crash before the flip leaves
        orphan, unreferenced data dirs — readers stay on the previous
        manifest and ``vacuum()`` reclaims the orphans."""
        table_dir = os.path.join(self.root, table)
        commit_id = uuid.uuid4().hex[:12]
        dest = os.path.join(table_dir, "data", commit_id)
        (
            staged.withColumn("bucket_p", F.col("bucket"))
            .write.partitionBy("bucket_p")
            .parquet(dest)
        )
        written = {
            entry.split("=", 1)[1]: f"data/{commit_id}/{entry}"
            for entry in os.listdir(dest)
            if entry.startswith("bucket_p=")
        }
        manifest = self._manifest(table)
        manifest["buckets"].update(written)
        # A touched bucket whose staged output came out EMPTY must drop
        # its pointer, not keep the stale one — harmless under today's
        # upsert-only merge (buckets never shrink to zero) but load-
        # bearing the day deletes are merged: a kept pointer would
        # resurrect the deleted rows.
        if touched is not None:
            for b in touched:
                if str(b) not in written:
                    manifest["buckets"].pop(str(b), None)
        tmp = os.path.join(table_dir, MANIFEST + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(table_dir, MANIFEST))

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, min_age_sec: float = 600.0) -> list[str]:
        """Reclaim UNREFERENCED data: bucket directories under
        ``<table>/data/`` that the current manifest no longer points at
        — superseded versions of merged buckets, and the orphans of a
        commit that crashed between data write and manifest flip.
        Only dirs older than ``min_age_sec`` go (a concurrent writer's
        just-written commit is younger; the state is single-writer by
        contract — the reference's page loop is too — so the age gate
        is a safety margin, not a locking scheme).  Also sweeps any
        pre-manifest ``.staging-*`` leftovers.  Returns removed paths
        relative to the state root."""
        import time

        removed = []
        now = time.time()

        def _old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= min_age_sec
            except OSError:
                return False

        for table in ("terms", "term_fields"):
            data_dir = os.path.join(self.root, table, "data")
            if not os.path.isdir(data_dir):
                continue
            referenced = set(self._manifest(table)["buckets"].values())
            for commit_id in os.listdir(data_dir):
                cdir = os.path.join(data_dir, commit_id)
                commit_live = any(
                    r.startswith(f"data/{commit_id}/") for r in referenced
                )
                for entry in os.listdir(cdir):
                    rel = f"data/{commit_id}/{entry}"
                    path = os.path.join(cdir, entry)
                    if rel in referenced or not _old_enough(path):
                        continue
                    if not entry.startswith("bucket_p="):
                        # Non-bucket entries: plain files (Spark's
                        # _SUCCESS marker) are only reclaimable once NO
                        # bucket of this commit is referenced anymore;
                        # DIRECTORIES here are crash leftovers (e.g. a
                        # `_temporary` dir from a killed write) and
                        # must go through rmtree — os.remove on a dir
                        # raises and would leak the commit dir forever.
                        if commit_live:
                            continue
                        if os.path.isdir(path):
                            shutil.rmtree(path, ignore_errors=True)
                            if os.path.exists(path):  # partial removal
                                continue
                        else:
                            try:
                                os.remove(path)
                            except OSError:
                                continue
                    else:
                        shutil.rmtree(path, ignore_errors=True)
                        if os.path.exists(path):  # partial removal
                            continue
                    removed.append(f"{table}/{rel}")
                if not os.listdir(cdir):  # commit fully reclaimed
                    os.rmdir(cdir)
        for entry in os.listdir(self.root):
            if entry.startswith(".staging-") and _old_enough(
                os.path.join(self.root, entry)
            ):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)
                removed.append(entry)
        return removed

    # -- merge ---------------------------------------------------------------

    def load_batch(
        self, bindings: DataFrame, batch_ts: _dt.datetime
    ) -> LoadStats:
        """One page's merge, touching only the page's buckets.

        The merge is load.py's (``_terms_merge_branches``,
        ``_fields_fresh_rows``, ``_observed_union``; reference semantics
        harvest.py:326-372) restricted to the pruned bucket set, with
        hash surrogate ids.  Each table commits through ``_commit``.
        """
        concepts = (
            clean_bindings(bindings)
            .select(F.col("concept").alias("uri"))
            .distinct()
            .withColumn("bucket", _bucket_of("uri", self.n_buckets))
            .cache()
        )
        # bounded driver collect: distinct bucket ids only — at most
        # n_buckets ints (config, not data), the price of pruning the merge
        touched = sorted(
            r["bucket"] for r in concepts.select("bucket").distinct().collect()
        )

        # ---- terms: keyed merge inside touched buckets ----
        existing = self.terms(touched).cache()
        untouched, updated, inserted = _terms_merge_branches(
            existing, concepts, batch_ts, _hash_assign
        )
        merged_terms, obs = _observed_union(kept=untouched, upd=updated, ins=inserted)
        self._commit("terms", merged_terms, touched)

        # ---- term_fields: FK-resolve + insert-if-absent ----
        fresh_rows = _fields_fresh_rows(
            self.term_fields(touched),
            self.terms(touched),
            unpivot_bindings(bindings),
            batch_ts,
            _hash_assign,
        ).cache()
        n_fields = fresh_rows.count()
        if n_fields:
            # Only buckets that actually gained rows are re-staged; a
            # rerun with nothing fresh skips the commit entirely.
            gained = sorted(
                # bounded driver collect: <= n_buckets ints (config, not data)
                r["bucket"] for r in fresh_rows.select("bucket").distinct().collect()
            )
            merged_fields = self.term_fields(gained).unionByName(fresh_rows)
            self._commit("term_fields", merged_fields, gained)
        fresh_rows.unpersist()
        existing.unpersist()
        concepts.unpersist()
        return LoadStats(int(obs.get["ins"] or 0), int(obs.get["upd"] or 0), n_fields)
