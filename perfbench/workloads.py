"""The benchmark's workloads, driven only through the program's public
functions.

``harvest_pages`` is the reference's own traffic: a SKOS collection
fetched as 1,000-row SPARQL pages, one ``harvest_run`` commit per page,
the constraint pack and the SQLite export, then the identical run again
into the same state and database.  ``harvest_bucketed`` streams small
delta pages into a large bucket-partitioned state, the regime that
layout exists for.  Neither touches the other's layer.

A cycle is one fresh run plus one rerun.  The timed region runs a
fixed number of cycles, set by the requested seconds over the
workload's nominal cycle time, and reports the median of each figure;
output checks run between and after the runs, outside the timed
region.  Load is a closed loop with one client: every call waits for
the previous one, as the reference's page loop does.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sqlite3
import statistics
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import eventlog
from gen import Collection, PageTransport, make_collection, merged, with_delta
from timing import Spans, tree, tree_bytes

from pyspark.sql import functions as F

from setup_harvest_action_spark.harvest.bucketed import BucketedHarvestState
from setup_harvest_action_spark.harvest.constraints import check_harvest_state
from setup_harvest_action_spark.harvest.load import harvest_run
from setup_harvest_action_spark.io.sqlite_export import export_sqlite
from setup_harvest_action_spark.schemas import SPARQL_BINDINGS
from setup_harvest_action_spark.sources.sparql import (
    bindings_to_rows,
    create_sparql_query,
    fetch_with_backoff,
    get_member_count,
)

PAGE_SIZE = 1000  # the reference's page size
N_BUCKETS = 64  # BucketedHarvestState's default
# About 1.4 wire rows per concept (0-3 altLabels): 1,350 concepts fill
# two 1,000-row pages, the second one partly, on every seed.
PAGES_CONCEPTS = 1350
WARM_PAGES_CONCEPTS = 60
# The bucketed base is several times the harvest_pages collection.
# A delta page of 40 concepts touches about 1 - e^(-40/64) = 46% of
# the 64 buckets; at a 1,000-row page nearly every bucket is touched
# and pruning could not show.  One delta page per cycle keeps a cycle
# short, so a run times several and reports their median.
BASE_CONCEPTS = 6000
DELTA_EXISTING, DELTA_NEW = 24, 16
# A load's time grows with the buckets it rewrites, and 40 random
# concepts land in 27 to 34 of the 64 buckets depending on the seed,
# which moved a run's time by a quarter.  Every seed's delta page
# touches exactly this many, the expected count 64 * (1 - (63/64)^40).
TOUCHED_BUCKETS = 30
DELTA_CANDIDATES = 64
BASE_TS = dt.datetime(2024, 12, 31)
FRESH_TS = dt.datetime(2025, 1, 1)
RERUN_TS = dt.datetime(2025, 1, 2)
# After a cold pass, a fixed number of light warm-up passes: a fixed
# sequence leaves every run equally warm, where stopping at the first
# pair that agreed left some runs one pass colder and slower.  warm_up
# reports how far apart the last two passes were.  harvest_bucketed
# takes one: its median over several timed cycles absorbs what is left
# of the warm-up, and the run's time goes to those cycles instead.
PAGES_LIGHT_PASSES = 2
BUCKETED_LIGHT_PASSES = 1


@dataclass
class Checks:
    """Operations attempted and failed: page commits and output checks."""

    attempted: int = 0
    failed: int = 0
    messages: list[str] = field(default_factory=list)

    def expect(self, name: str, ok: bool, detail: object = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(f"{name}: {detail}")

    def same(self, name: str, got, want) -> None:
        if isinstance(want, set):
            detail = f"{len(want - got)} missing, {len(got - want)} unexpected"
        else:
            detail = f"got {got!r}, want {want!r}"
        self.expect(name, got == want, detail)


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory for state, databases and logs
    checks: Checks = field(default_factory=Checks)
    spans: Spans = field(default_factory=Spans)
    traced: bool = False

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


class DiskWatch:
    """Files and bytes written under a directory, by snapshot diff:
    each file that is new, or whose size changed, since the last look
    counts once."""

    def __init__(self, path: str):
        self.path = path
        self.seen: dict[str, int] = {}
        self.files_written = 0
        self.bytes_written = 0

    def look(self) -> None:
        now = tree(self.path)
        for rel, size in now.items():
            if self.seen.get(rel) != size:
                self.files_written += 1
                self.bytes_written += size
        self.seen = now


def warm_up(cold: Callable[[], object], light: Callable[[], float], passes: int) -> float:
    """Run ``cold`` once, then ``light`` ``passes`` times; returns how
    far apart the last two light passes were, as a share of the earlier
    one (0 with a single pass)."""
    cold()
    times = [light() for _ in range(passes)]
    return abs(times[-1] - times[-2]) / times[-2] if passes > 1 else 0.0


def n_cycles(seconds: float, cycle_s: float) -> int:
    """Timed cycles for a run of about ``seconds``: a fixed count for a
    given workload, so every run of it times the same work."""
    return max(1, round(seconds / cycle_s))


def timed_cycles(cycle: Callable[[], tuple[dict, dict]], n: int) -> dict:
    """Run ``cycle`` ``n`` times; returns the median of each per-cycle
    figure."""
    figures = [cycle()[0] for _ in range(n)]
    return {k: statistics.median(f[k] for f in figures) for k in figures[0]}


def stage_totals(groups: dict, start: float, end: float) -> dict:
    """Engine totals over every job group, plus the seconds of the
    ``[start, end]`` wall interval during which no stage ran."""
    total = eventlog.GroupStats()
    for g in groups.values():
        total.add(g)
    return {
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.executor_run_s": total.executor_run_s,
        "spark.executor_cpu_s": total.executor_cpu_s,
        "spark.gc_s": total.gc_s,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "spark.driver_gap_s": eventlog.driver_gap(total, start, end),
    }


def _group_sum(groups: dict, spans, attr: str) -> float:
    return sum(getattr(groups.get(s.group, eventlog.GroupStats()), attr) for s in spans)


# -- harvest_pages ------------------------------------------------------------


@dataclass
class PagesRun:
    state: object
    stats: object
    members: int
    pages: int
    rows: int
    violations: dict
    exported: dict
    seconds: float


def _fetch_pages(ctx: Ctx, transport, coll_uri: str, tag: str, tally: Counter, watch):
    """The reference's page loop: LIMIT/OFFSET pages until a short one,
    one bindings DataFrame per page."""
    k = 0
    while True:
        with ctx.spans.span("sources.sparql", f"{tag}|fetch{k}"):
            res = fetch_with_backoff(
                transport,
                create_sparql_query(coll_uri, limit=PAGE_SIZE, offset=k * PAGE_SIZE),
            )
        with ctx.spans.span("sources.sparql", f"{tag}|frame{k}"):
            rows = bindings_to_rows(res)
            df = ctx.spark.createDataFrame(rows, SPARQL_BINDINGS) if rows else None
        if df is None:
            return
        tally["pages"] += 1
        tally["rows"] += len(rows)
        yield df
        if watch is not None:
            watch.look()
        if len(rows) < PAGE_SIZE:
            return
        k += 1


def _harvest(ctx: Ctx, coll, transport, state, state_dir, db, tag, ts, watch) -> PagesRun:
    """One run: member count, page fetches, one ``harvest_run`` commit
    per page, the constraint pack, and the SQLite export."""
    tally: Counter = Counter()
    start = time.perf_counter()
    with ctx.spans.span("sources.sparql", f"{tag}|count"):
        members = get_member_count(transport, coll.uri)
    pages = ctx.spans.timed_pages(
        _fetch_pages(ctx, transport, coll.uri, tag, tally, watch), "harvest.load", f"{tag}|p"
    )
    state, stats = harvest_run(ctx.spark, pages, state_dir, state=state, batch_ts=ts)
    with ctx.spans.span("harvest.constraints", tag):
        report = check_harvest_state(state.terms, state.term_fields).collect()
    with ctx.spans.span("io.sqlite_export", tag):
        exported = export_sqlite(state.terms, state.term_fields, db)
    seconds = time.perf_counter() - start
    violations = {r["constraint"]: r["violations"] for r in report}
    return PagesRun(
        state, stats, members, tally["pages"], tally["rows"], violations, exported, seconds
    )


def _db_sets(db: str) -> tuple[set, set]:
    con = sqlite3.connect(db)
    try:
        uris = {u for (u,) in con.execute("SELECT uri FROM terms")}
        fields = set(
            con.execute(
                "SELECT t.uri, f.field_uri, f.original_value "
                "FROM term_fields f JOIN terms t ON t.id = f.term_id"
            )
        )
    finally:
        con.close()
    return uris, fields


def _check_pages_run(checks: Checks, coll: Collection, run: PagesRun, db: str, tag: str):
    uris, fields = coll.expected_uris(), coll.expected_fields()
    checks.attempted += run.pages  # the page commits
    checks.same(f"{tag}.member_count", run.members, len(uris))
    checks.same(f"{tag}.wire_rows", run.rows, len(coll.rows))
    want = (len(uris), len(fields)) if tag == "fresh" else (0, 0)
    got = (run.stats.terms_inserted, run.stats.fields_inserted)
    checks.same(f"{tag}.inserted_terms_fields", got, want)
    bad = {k: v for k, v in run.violations.items() if v}
    checks.expect(f"{tag}.constraints", len(run.violations) == 6 and not bad, run.violations)
    checks.same(
        f"{tag}.export_counts", run.exported, {"terms": len(uris), "term_fields": len(fields)}
    )
    db_uris, db_fields = _db_sets(db)
    checks.same(f"{tag}.db_uris", db_uris, uris)
    checks.same(f"{tag}.db_fields", db_fields, fields)
    if tag == "fresh":
        ids = [r["id"] for r in run.state.terms.orderBy("uri").select("id").collect()]
        checks.expect("fresh.dense_ids_are_uri_rank", ids == list(range(1, len(uris) + 1)))


class HarvestPages:
    """The reference's pipeline over 1,000-row pages, run twice."""

    name = "harvest_pages"
    cycle_s = 20.0  # nominal seconds of one timed cycle on 4 vCPUs

    def __init__(self, ctx: Ctx, seed: int):
        self.ctx = ctx
        self.coll = make_collection(seed, PAGES_CONCEPTS, "P01")
        self.warm = make_collection(seed, WARM_PAGES_CONCEPTS, "P02")
        # Every page's JSON is built here, once, so a fetch in the timed
        # region is a dict lookup.
        self.transport = PageTransport(self.coll, PAGE_SIZE)
        self.warm_transport = PageTransport(self.warm, PAGE_SIZE)

    def bind(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def _cycle(self, coll, transport, name: str, check: bool) -> tuple[dict, dict]:
        ctx = self.ctx
        state_dir = ctx.fresh_dir(f"{name}/state")
        db = os.path.join(ctx.fresh_dir(f"{name}/db"), "translations.db")
        watch = DiskWatch(state_dir) if ctx.traced else None
        fresh = _harvest(ctx, coll, transport, None, state_dir, db, "fresh", FRESH_TS, watch)
        if check:
            _check_pages_run(ctx.checks, coll, fresh, db, "fresh")
        rerun = _harvest(
            ctx, coll, transport, fresh.state, state_dir, db, "rerun", RERUN_TS, watch
        )
        if check:
            _check_pages_run(ctx.checks, coll, rerun, db, "rerun")
        disk = tree_bytes(state_dir) + os.path.getsize(db)
        figures = {
            "wall_s": fresh.seconds + rerun.seconds,
            "fresh_s": fresh.seconds,
            "rerun_s": rerun.seconds,
            "disk_bytes_per_input_byte": disk / coll.input_bytes(),
        }
        detail = {"fresh": fresh, "rerun": rerun, "watch": watch, "db": db}
        return figures, detail

    def warm_up(self) -> float:
        """A cold pass of the whole cycle on a one-page collection, then
        ``harvest_run`` passes over that page."""

        def light() -> float:
            state_dir = self.ctx.fresh_dir("warm/state")
            start = time.perf_counter()
            pages = _fetch_pages(
                self.ctx, self.warm_transport, self.warm.uri, "warm", Counter(), None
            )
            harvest_run(self.ctx.spark, pages, state_dir, batch_ts=FRESH_TS)
            return time.perf_counter() - start

        return warm_up(
            lambda: self._cycle(self.warm, self.warm_transport, "warm", check=False),
            light,
            PAGES_LIGHT_PASSES,
        )

    def cycle(self) -> tuple[dict, dict]:
        """One timed cycle; every cycle's outputs are checked."""
        return self._cycle(self.coll, self.transport, "cycle", check=True)

    def check_last(self) -> None:
        """Nothing left to check: ``cycle`` checks all it produced."""

    def layers(self, detail: dict, groups: dict) -> dict:
        spans = self.ctx.spans
        fresh, rerun, watch = detail["fresh"], detail["rerun"], detail["watch"]
        pages = spans.of("harvest.load")
        n_pages = len(pages)
        exported_rows = sum(sum(r.exported.values()) for r in (fresh, rerun))
        export_s = spans.total("io.sqlite_export")
        checks = spans.of("harvest.constraints")
        return {
            "sources.sparql.fetch_s": sum(
                s.seconds for s in spans.of("sources.sparql") if "|frame" not in s.name
            ),
            "sources.sparql.to_frame_s": sum(
                s.seconds for s in spans.of("sources.sparql") if "|frame" in s.name
            ),
            "sources.sparql.pages": fresh.pages + rerun.pages,
            "sources.sparql.rows": fresh.rows + rerun.rows,
            "harvest.load.fresh_page_p50_s": statistics.median(
                s.seconds for s in spans.of("harvest.load", "fresh|")
            ),
            "harvest.load.rerun_page_p50_s": statistics.median(
                s.seconds for s in spans.of("harvest.load", "rerun|")
            ),
            "harvest.load.page_max_s": max(s.seconds for s in pages),
            "harvest.load.jobs_per_page": _group_sum(groups, pages, "jobs") / n_pages,
            "harvest.load.tasks_per_page": _group_sum(groups, pages, "tasks") / n_pages,
            "harvest.load.driver_gap_s": sum(
                eventlog.driver_gap(groups.get(s.group, eventlog.GroupStats()), s.start, s.end)
                for s in pages
            ),
            "harvest.load.bytes_written": watch.bytes_written,
            "harvest.load.terms_inserted": fresh.stats.terms_inserted
            + rerun.stats.terms_inserted,
            "harvest.load.terms_updated": fresh.stats.terms_updated
            + rerun.stats.terms_updated,
            "harvest.load.fields_inserted": fresh.stats.fields_inserted
            + rerun.stats.fields_inserted,
            "harvest.constraints.check_s": sum(s.seconds for s in checks),
            "harvest.constraints.jobs": _group_sum(groups, checks, "jobs"),
            "harvest.constraints.violations": sum(
                sum(r.violations.values()) for r in (fresh, rerun)
            ),
            "io.sqlite_export.fresh_s": spans.total("io.sqlite_export", "fresh"),
            "io.sqlite_export.rerun_s": spans.total("io.sqlite_export", "rerun"),
            "io.sqlite_export.rows_per_s": exported_rows / export_s,
            "io.sqlite_export.db_bytes": os.path.getsize(detail["db"]),
        }


# -- harvest_bucketed ---------------------------------------------------------


def _manifest(root: str, table: str) -> dict:
    with open(os.path.join(root, table, "_manifest.json"), encoding="utf-8") as fh:
        return json.load(fh)["buckets"]


def _bucket_dirs(root: str, table: str) -> set[str]:
    data = os.path.join(root, table, "data")
    return {
        f"data/{commit}/{entry}"
        for commit in os.listdir(data)
        for entry in os.listdir(os.path.join(data, commit))
        if entry.startswith("bucket_p=")
    }


def _live_files(root: str) -> int:
    return sum(
        len(tree(os.path.join(root, table, rel)))
        for table in ("terms", "term_fields")
        for rel in _manifest(root, table).values()
    )


@dataclass
class BucketedRun:
    stats: list
    removed: list
    seconds: float
    touched: list = field(default_factory=list)  # buckets re-pointed per page
    disk_before_vacuum: int = 0


class HarvestBucketed:
    """Small delta pages streamed into a large 64-bucket state.

    A cycle copies the preloaded base, loads one delta page and
    vacuums (the fresh run), then loads the same page again and
    vacuums (the rerun)."""

    name = "harvest_bucketed"
    cycle_s = 8.0  # nominal seconds of one timed cycle on 4 vCPUs

    def __init__(self, ctx: Ctx, seed: int):
        self.ctx = ctx
        self.base = make_collection(seed, BASE_CONCEPTS, "P02")
        self.delta = self._delta_touching(ctx.spark, seed, TOUCHED_BUCKETS)
        self.expected = merged(self.base, self.delta)
        self.warm_delta = with_delta(self.base, seed, DELTA_EXISTING, DELTA_NEW, -1)
        self.input_bytes = self.base.input_bytes() + self.delta.input_bytes()
        self.bind(ctx)
        self.seed_dir = None
        self.last_state = None

    def _delta_touching(self, spark, seed: int, n: int) -> Collection:
        """The first of the seed's candidate delta pages whose concepts
        fall in exactly ``n`` buckets, by the layout's bucket rule
        ``pmod(xxhash64(uri), n_buckets)``; the traced run's
        ``buckets_touched_frac`` shows it if that rule changes."""
        candidates = [
            with_delta(self.base, seed, DELTA_EXISTING, DELTA_NEW, k)
            for k in range(DELTA_CANDIDATES)
        ]
        uris = [(k, c.uri) for k, d in enumerate(candidates) for c in d.concepts]
        counts = dict(
            spark.createDataFrame(uris, "k int, uri string")
            .groupBy("k")
            .agg(F.countDistinct(F.pmod(F.xxhash64("uri"), F.lit(N_BUCKETS))))
            .collect()
        )
        hits = [k for k in range(DELTA_CANDIDATES) if counts[k] == n]
        if not hits:
            raise RuntimeError(f"no candidate delta page touches {n} buckets")
        return candidates[hits[0]]

    def bind(self, ctx: Ctx) -> None:
        """Attach to a (new) session: DataFrames belong to one."""
        self.ctx = ctx
        self.delta_df = ctx.spark.createDataFrame(self.delta.rows, SPARQL_BINDINGS)
        self.warm_df = ctx.spark.createDataFrame(self.warm_delta.rows, SPARQL_BINDINGS)

    def _preload(self, coll: Collection, name: str) -> str:
        """Load ``coll`` in one ``load_batch`` into a new state, the
        starting point every cycle copies."""
        root = self.ctx.fresh_dir(name)
        state = BucketedHarvestState(self.ctx.spark, root, N_BUCKETS)
        df = self.ctx.spark.createDataFrame(coll.rows, SPARQL_BINDINGS)
        stats = state.load_batch(df, BASE_TS)
        self.ctx.checks.same(
            "preload.inserted_terms_fields",
            (stats.terms_inserted, stats.fields_inserted),
            (len(coll.concepts), len(coll.expected_fields())),
        )
        return root

    def _copy_of_base(self, name: str) -> tuple[str, BucketedHarvestState]:
        root = os.path.join(self.ctx.work, name)
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.seed_dir, root)
        return root, BucketedHarvestState(self.ctx.spark, root, N_BUCKETS)

    def _cycle(self, df, name: str) -> tuple[dict, dict, BucketedHarvestState]:
        ctx = self.ctx
        root, state = self._copy_of_base(name)
        watch = DiskWatch(root) if ctx.traced else None
        if watch is not None:
            watch.look()
            watch.files_written = watch.bytes_written = 0  # the copied base
        runs = {}
        for tag, ts in (("fresh", FRESH_TS), ("rerun", RERUN_TS)):
            run = BucketedRun([], [], 0.0)
            start = time.perf_counter()
            before = _manifest(root, "terms") if watch is not None else None
            with ctx.spans.span("harvest.bucketed", f"{tag}|p0"):
                run.stats.append(state.load_batch(df, ts))
            if watch is not None:
                after = _manifest(root, "terms")
                run.touched.append(sum(after[b] != before.get(b) for b in after))
                watch.look()
                run.disk_before_vacuum = tree_bytes(root)
            with ctx.spans.span("harvest.bucketed", f"{tag}|vacuum"):
                run.removed = state.vacuum(min_age_sec=0)
            run.seconds = time.perf_counter() - start
            runs[tag] = run
        figures = {
            "wall_s": runs["fresh"].seconds + runs["rerun"].seconds,
            "fresh_s": runs["fresh"].seconds,
            "rerun_s": runs["rerun"].seconds,
            "disk_bytes_per_input_byte": tree_bytes(root) / self.input_bytes,
        }
        return figures, {"runs": runs, "watch": watch, "root": root}, state

    def _check_counts(self, runs: dict) -> None:
        checks = self.ctx.checks
        want = {
            "fresh": (
                len(self.expected.concepts) - len(self.base.concepts),
                len(self.expected.expected_fields()) - len(self.base.expected_fields()),
            ),
            "rerun": (0, 0),
        }
        for tag, run in runs.items():
            checks.attempted += len(run.stats) + 1  # page commits and the vacuum
            got = (
                sum(s.terms_inserted for s in run.stats),
                sum(s.fields_inserted for s in run.stats),
            )
            checks.same(f"{tag}.inserted_terms_fields", got, want[tag])

    def _check_state(self, state, root: str) -> None:
        checks = self.ctx.checks
        id_uri = {r["id"]: r["uri"] for r in state.terms().select("id", "uri").collect()}
        fields = {
            (id_uri.get(r["term_id"]), r["field_uri"], r["original_value"])
            for r in state.term_fields()
            .select("term_id", "field_uri", "original_value")
            .collect()
        }
        checks.same("state.uris", set(id_uri.values()), self.expected.expected_uris())
        checks.same("state.fields", fields, self.expected.expected_fields())
        for table in ("terms", "term_fields"):
            checks.same(
                f"vacuum.{table}.no_orphans",
                _bucket_dirs(root, table),
                set(_manifest(root, table).values()),
            )

    def warm_up(self) -> float:
        """The preload, one ``load_batch`` of the whole base and the
        state every cycle starts from, is the cold pass; then a
        ``load_batch`` of another delta page of the same shape.
        A rerun or a vacuum runs no Spark code a fresh load does not."""

        def preload() -> None:
            self.seed_dir = self._preload(self.base, "base")

        def light() -> float:
            _, state = self._copy_of_base("warm")
            start = time.perf_counter()
            state.load_batch(self.warm_df, FRESH_TS)
            return time.perf_counter() - start

        return warm_up(preload, light, BUCKETED_LIGHT_PASSES)

    def cycle(self) -> tuple[dict, dict]:
        """One timed cycle; its insert counts are checked."""
        figures, detail, self.last_state = self._cycle(self.delta_df, "cycle")
        self._check_counts(detail["runs"])
        return figures, detail

    def check_last(self) -> None:
        """Read back in full the state the last cycle left.  Every
        cycle starts from the same base and loads the same page."""
        state = self.last_state
        self._check_state(state, state.root)

    def layers(self, detail: dict, groups: dict) -> dict:
        spans = self.ctx.spans
        runs, watch = detail["runs"], detail["watch"]
        pages = [s for s in spans.of("harvest.bucketed") if "|p" in s.name]
        vacuums = [s for s in spans.of("harvest.bucketed") if s.name.endswith("|vacuum")]
        fresh_touched = runs["fresh"].touched
        return {
            "harvest.bucketed.page_p50_s": statistics.median(
                s.seconds for s in pages if s.name.startswith("fresh|")
            ),
            "harvest.bucketed.page_max_s": max(s.seconds for s in pages),
            "harvest.bucketed.buckets_touched_frac": sum(fresh_touched)
            / (len(fresh_touched) * N_BUCKETS),
            "harvest.bucketed.jobs_per_page": _group_sum(groups, pages, "jobs") / len(pages),
            "harvest.bucketed.files_written": watch.files_written,
            "harvest.bucketed.bytes_written": watch.bytes_written,
            "harvest.bucketed.live_files": _live_files(detail["root"]),
            "harvest.bucketed.disk_bytes_before_vacuum": runs["fresh"].disk_before_vacuum,
            "harvest.bucketed.vacuum_s": sum(s.seconds for s in vacuums),
            "harvest.bucketed.vacuum_removed": sum(len(r.removed) for r in runs.values()),
        }


WORKLOADS = {w.name: w for w in (HarvestPages, HarvestBucketed)}
