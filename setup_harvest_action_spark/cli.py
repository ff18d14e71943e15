"""CLI entry point (O22) — the reference's ``main()`` re-expressed.

Reference contract (harvest.py:383-399, 474-485): usage error and
``ValueError`` exit 1 with a message; database errors exit 1 with
"Database error during harvest"; unexpected errors exit 1 with a
traceback; fixed default output path ``translations.db``
(harvest.py:392); printed load summary (harvest.py:377-380).

Sources: a bindings parquet/json file (offline harvest — the engine's
canonical path), ``--fake-endpoint N`` (the deterministic in-process
SPARQL endpoint, exercising the full paginated-fetch machinery), or
``--endpoint URL --collection URI`` (the real remote harvest via
``sources.sparql.UrllibTransport`` — the ONLY opt-in network path;
nothing else in the engine or its tests touches the network).

Usage:
    python -m setup_harvest_action_spark harvest <bindings.parquet>
        [--db translations.db] [--state-dir DIR] [--batch-size 1000]
    python -m setup_harvest_action_spark harvest --fake-endpoint 2500
    python -m setup_harvest_action_spark harvest \\
        --endpoint http://vocab.nerc.ac.uk/sparql/ \\
        --collection http://vocab.nerc.ac.uk/collection/P01/current/
"""

from __future__ import annotations

import argparse
import sqlite3
import sys
import tempfile
import traceback


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="setup_harvest_action_spark")
    sub = p.add_subparsers(dest="command", required=True)
    h = sub.add_parser("harvest", help="run the harvest load pipeline")
    h.add_argument("bindings", nargs="?", help="bindings parquet/json path")
    h.add_argument("--fake-endpoint", type=int, metavar="N",
                   help="harvest N synthetic concepts via the in-process endpoint")
    h.add_argument("--endpoint", metavar="URL",
                   help="real SPARQL endpoint URL (opt-in network access; "
                        "requires --collection)")
    h.add_argument("--collection", metavar="URI",
                   help="SKOS collection URI to harvest from --endpoint")
    h.add_argument("--db", default="translations.db",
                   help="sqlite output path (default: translations.db, harvest.py:392)")
    h.add_argument("--state-dir", default=None,
                   help="parquet state directory (default: temp)")
    h.add_argument("--batch-size", type=int, default=1000)
    h.add_argument("--bucketed", action="store_true",
                   help="merge through the bucket-pruned state layout "
                        "(harvest/bucketed.py): per-batch I/O bounded by "
                        "touched buckets — the large-state form")
    h.add_argument("--state-buckets", type=int, default=64,
                   help="hash bucket count for --bucketed (fixed at state "
                        "creation; default 64)")
    c = sub.add_parser("catalog", help="list, explain, or run catalog queries")
    c.add_argument("--list", action="store_true",
                   help="print every query name (+ whether it is oracled)")
    c.add_argument("--explain", metavar="NAME",
                   help="print the formatted physical plan for a query")
    c.add_argument("--run", metavar="NAME", help="run a query and show rows")
    c.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="fixture directory (default sf0.001)")
    c.add_argument("--rows", type=int, default=20,
                   help="rows to show with --run (default 20)")
    m = sub.add_parser(
        "manifest",
        help="inspect/maintain a manifest-committed parquet table "
             "(sources/manifest_sink.py)",
    )
    m.add_argument("path", help="manifest table directory")
    m.add_argument("--show", action="store_true",
                   help="print the latest manifest summary (default)")
    m.add_argument("--history", action="store_true",
                   help="list every retained version with rows/files")
    m.add_argument("--compact", type=int, metavar="N",
                   help="rewrite current content into N files "
                        "(one atomic versioned commit)")
    m.add_argument("--vacuum", type=int, metavar="KEEP", default=None,
                   help="drop snapshots older than the last KEEP versions "
                        "and unreferenced data files")
    m.add_argument("--delete-where", nargs=3, metavar=("COL", "OP", "VALUE"),
                   help="row-level delete (op in < <= > >= =); VALUE parses "
                        "as number when possible — one atomic versioned "
                        "commit rewriting only stats-admitted files")
    m.add_argument("--merge-from", metavar="PARQUET",
                   help="MERGE INTO from a parquet path of source rows")
    m.add_argument("--merge-on", metavar="COLS",
                   help="comma-separated merge key columns (with --merge-from)")
    m.add_argument("--changes", nargs=2, type=int,
                   metavar=("FROM_V", "TO_V"),
                   help="print row-level CDC change counts between versions")
    m.add_argument("--add-bloom", metavar="COLS",
                   help="backfill per-file Bloom filters for COL[,COL...] "
                        "and index all future writes (point-lookup "
                        "data skipping)")
    m.add_argument("--tag", nargs="+", metavar="NAME [VERSION]",
                   help="name a committed version (default: current head); "
                        "tags are immutable and pin their snapshot "
                        "against vacuum")
    m.add_argument("--branch", nargs="+", metavar="NAME [VERSION]",
                   help="open a mutable branch at a committed version "
                        "(default: current head)")
    m.add_argument("--publish", metavar="BRANCH",
                   help="fast-forward main to a branch head (refused if "
                        "main diverged) — the write-audit-publish flip")
    m.add_argument("--drop-ref", metavar="NAME",
                   help="delete a tag or branch (releases its vacuum "
                        "protection)")
    m.add_argument("--refs", action="store_true",
                   help="list named refs with their versions")
    m.add_argument("--clone-to", metavar="DST",
                   help="zero-copy shallow clone: new table referencing "
                        "this table's files (no data moves)")
    m.add_argument("--health", action="store_true",
                   help="metadata-only maintenance report: file-size "
                        "posture + per-column clustering depth")
    a = sub.add_parser(
        "ann",
        help="build / incrementally maintain / search a stored ANN "
             "index (functions/ann_index.py — manifest tables)",
    )
    a.add_argument("path", help="index root directory")
    a.add_argument("--kind", choices=("pq", "lsh", "ivf", "ivfpq"),
                   default="pq",
                   help="index family (default pq)")
    a.add_argument("--build-from", metavar="PARQUET",
                   help="build the index from a (vec_id, embedding) "
                        "parquet — codebooks/centroids are fit here and "
                        "FROZEN for later appends")
    a.add_argument("--append-from", metavar="PARQUET",
                   help="incrementally index a batch: encode/assign with "
                        "the stored codebooks + MERGE (O(batch), "
                        "idempotent on rerun)")
    a.add_argument("--search", type=int, metavar="VEC_ID",
                   help="two-stage search with corpus vector VEC_ID as "
                        "the probe (pq / ivfpq)")
    a.add_argument("--delete", metavar="VEC_IDS",
                   help="row-level takedown: comma-separated vec_ids to "
                        "remove from the index (key-only MERGE DELETE, "
                        "O(touched files); deleted vectors never appear "
                        "in search again)")
    a.add_argument("--vectors", metavar="PARQUET",
                   help="raw vectors for probe + exact re-rank "
                        "(defaults to --build-from / --append-from)")
    pl = sub.add_parser(
        "pipeline",
        help="compile and run a declarative pipeline spec "
             "(plans/pipeline.py)",
    )
    pl.add_argument("spec", help="JSON spec file: {datasets: {...}, output}")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="fixture directory for 'table' datasets")
    pl.add_argument("--rows", type=int, default=20,
                    help="rows to show (default 20)")
    pl.add_argument("--write", metavar="PARQUET",
                    help="write the output dataset to a parquet path "
                         "instead of showing rows")
    return p


def _run_ann(args) -> int:
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.functions import ann_index as ai
    from setup_harvest_action_spark.functions.similarity import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        PQ_CAND,
        PQ_TOPK,
    )
    from setup_harvest_action_spark.session import get_spark

    spark = get_spark("cli-ann")

    def _vecs(path: str):
        df = spark.read.parquet(path)
        emb_col = "embedding" if "embedding" in df.columns else "e"
        return df.select(
            "vec_id",
            F.transform(emb_col, lambda x: x.cast("double")).alias("e"),
        )

    src = args.build_from or args.append_from or args.vectors
    if args.build_from:
        emb = _vecs(args.build_from)
        if args.kind == "pq":
            ai.pq_index_build(spark, emb, args.path)
        elif args.kind == "lsh":
            ai.lsh_index_build(
                spark, emb.withColumnRenamed("e", "v"), args.path
            )
        elif args.kind == "ivf":
            ai.ivf_index_build(
                spark,
                emb.withColumnRenamed("e", "v"),
                args.path,
                IVF_CENTROIDS,
            )
        else:
            ai.ivfpq_index_build(spark, emb, args.path, IVF_CENTROIDS)
        print(f"built {args.kind} index at {args.path}")
    if args.append_from:
        emb = _vecs(args.append_from)
        if args.kind == "pq":
            m = ai.pq_index_append(spark, emb, args.path)
        elif args.kind == "lsh":
            m = ai.lsh_index_append(
                spark, emb.withColumnRenamed("e", "v"), args.path
            )
        elif args.kind == "ivf":
            m = ai.ivf_index_append(
                spark, emb.withColumnRenamed("e", "v"), args.path
            )
        else:
            m = ai.ivfpq_index_append(spark, emb, args.path)
        print(
            f"appended into {args.kind} index: version "
            f"{m['version']}, {m['total_rows']} rows"
        )
    if args.delete:
        ids = spark.createDataFrame(
            [(int(v),) for v in args.delete.split(",")], "vec_id BIGINT"
        )
        fn = {
            "pq": ai.pq_index_delete,
            "lsh": ai.lsh_index_delete,
            "ivf": ai.ivf_index_delete,
            "ivfpq": ai.ivfpq_index_delete,
        }[args.kind]
        m = fn(spark, ids, args.path)
        print(
            f"deleted from {args.kind} index: version "
            f"{m['version']}, {m['total_rows']} rows remain"
        )
    if args.search is not None:
        if args.kind not in ("pq", "ivfpq"):
            raise ValueError("--search supports pq and ivfpq indexes")
        if not src:
            raise ValueError("--search needs --vectors (raw vectors)")
        emb = _vecs(args.vectors or src)
        probe = emb.filter(F.col("vec_id") == args.search).select(
            F.col("e").alias("q")
        )
        if args.kind == "pq":
            out = ai.pq_index_search(
                spark, args.path, probe, emb, exclude_vec_id=args.search
            )
        else:
            out = ai.ivfpq_search(
                spark,
                args.path,
                probe,
                emb,
                nprobe=IVF_NPROBE,
                n_cand=PQ_CAND,
                top_k=PQ_TOPK,
                exclude_vec_id=args.search,
            )
        for row in out.collect():
            print(tuple(row))
    if not (
        args.build_from
        or args.append_from
        or args.delete
        or args.search is not None
    ):
        raise ValueError(
            "ann needs --build-from, --append-from, --delete or --search"
        )
    return 0


def _run_pipeline(args) -> int:
    import json

    from setup_harvest_action_spark.plans.pipeline import run_pipeline
    from setup_harvest_action_spark.session import get_spark

    with open(args.spec, encoding="utf-8") as fh:
        spec = json.load(fh)
    df = run_pipeline(get_spark("cli-pipeline"), spec, args.sf_dir)
    if args.write:
        df.write.mode("overwrite").parquet(args.write)
        print(f"wrote {args.write}")
        return 0
    for row in df.limit(args.rows).collect():
        print(tuple(row))
    return 0


def _run_manifest(args) -> int:
    import json
    import os

    from setup_harvest_action_spark.sources.manifest_sink import (
        SNAPSHOT_FMT,
        add_bloom_filters,
        compact,
        delete_where,
        merge_into,
        read_manifest,
        table_changes,
        vacuum_manifest,
    )

    if args.tag or args.branch:
        from setup_harvest_action_spark.sources.manifest_refs import (
            create_branch,
            create_tag,
        )

        make, spec = (
            (create_tag, args.tag) if args.tag else (create_branch, args.branch)
        )
        if len(spec) > 2:
            print("--tag/--branch take NAME [VERSION]")
            return 1
        version = int(spec[1]) if len(spec) == 2 else None
        v = make(args.path, spec[0], version)
        kind = "tag" if args.tag else "branch"
        print(f"{kind} {spec[0]!r} -> v{v}")
        return 0
    if args.publish is not None:
        from setup_harvest_action_spark.sources.manifest_refs import (
            fast_forward,
        )

        m = fast_forward(args.path, args.publish)
        print(f"main fast-forwarded to {args.publish!r} "
              f"(version {m['version']}, {m['total_rows']} rows)")
        return 0
    if args.drop_ref is not None:
        from setup_harvest_action_spark.sources.manifest_refs import delete_ref

        delete_ref(args.path, args.drop_ref)
        print(f"dropped ref {args.drop_ref!r}")
        return 0
    if args.refs:
        from setup_harvest_action_spark.sources.manifest_sink import _load_refs

        refs = _load_refs(args.path)
        for name, v in sorted(refs["tags"].items()):
            print(f"tag    {name}: v{v}")
        for name, v in sorted(refs["branches"].items()):
            print(f"branch {name}: v{v}")
        if not refs["tags"] and not refs["branches"]:
            print("no refs")
        return 0
    if args.clone_to is not None:
        from setup_harvest_action_spark.sources.manifest_sink import (
            shallow_clone,
        )

        c = shallow_clone(args.path, args.clone_to)
        print(f"cloned v{c['cloned_from']['version']} -> {args.clone_to} "
              f"({c['total_rows']} rows, zero bytes copied)")
        return 0
    if args.health:
        from setup_harvest_action_spark.sources.manifest_sink import (
            table_health,
        )

        h = table_health(args.path)
        print(f"version {h['version']}: {h['n_files']} files, "
              f"{h['total_rows']} rows, {h['total_bytes']} bytes "
              f"({h['small_files']} small, median {h['median_file_bytes']})")
        for col, d in h["clustering_depth"].items():
            print(f"clustering depth {col}: {d}")
        return 0
    if args.add_bloom is not None:
        cols = [c.strip() for c in args.add_bloom.split(",") if c.strip()]
        after = add_bloom_filters(args.path, cols)
        n = sum(
            1 for e in after["files"]
            if set(cols) & set(e.get("blooms") or {})
        )
        print(f"bloom-indexed {after['bloom_columns']} "
              f"({n}/{len(after['files'])} files, version {after['version']})")
        return 0
    if args.delete_where is not None:
        from setup_harvest_action_spark.session import get_spark

        col, op, raw = args.delete_where
        try:
            val = int(raw)
        except ValueError:
            try:
                val = float(raw)
            except ValueError:
                val = raw
        after = delete_where(
            get_spark("cli-manifest"), args.path, [(col, op, val)]
        )
        print(f"deleted where {col} {op} {val!r} "
              f"(version {after['version']}, {after['total_rows']} rows kept)")
        return 0
    if args.merge_from is not None:
        if not args.merge_on:
            print("--merge-from needs --merge-on COL[,COL...]")
            return 1
        from setup_harvest_action_spark.session import get_spark

        spark = get_spark("cli-manifest")
        src = spark.read.parquet(args.merge_from)
        after = merge_into(
            spark, args.path, src, on=args.merge_on.split(",")
        )
        print(f"merged {args.merge_from} on {args.merge_on} "
              f"(version {after['version']}, {after['total_rows']} rows)")
        return 0
    if args.changes is not None:
        from setup_harvest_action_spark.session import get_spark

        lo, hi = args.changes
        ch = table_changes(get_spark("cli-manifest"), args.path, lo, hi)
        # bounded collect: one row per (commit version in range, change
        # type) — versions × 3, a report-sized aggregate, never row data
        counts = {
            (r["_commit_version"], r["_change_type"]): r["n"]
            for r in ch.groupBy("_commit_version", "_change_type")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        for (v, kind), n in sorted(counts.items()):
            print(f"v{v}: {n} {kind}s")
        print(f"{sum(counts.values())} total changes in ({lo}, {hi}]")
        return 0
    if args.compact is not None:
        from setup_harvest_action_spark.session import get_spark

        after = compact(get_spark("cli-manifest"), args.path, args.compact)
        print(f"compacted to {len(after['files'])} files "
              f"(version {after['version']}, {after['total_rows']} rows)")
        return 0
    if args.vacuum is not None:
        removed = vacuum_manifest(args.path, keep_last=args.vacuum)
        for r in removed:
            print(f"removed {r}")
        print(f"{len(removed)} paths reclaimed")
        return 0
    if args.history:
        latest = read_manifest(args.path)
        for entry in sorted(os.listdir(args.path)):
            if entry.startswith("_manifest-v") and entry.endswith(".json"):
                v = int(entry[len("_manifest-v"):-len(".json")])
                with open(os.path.join(args.path, entry)) as fh:
                    snap = json.load(fh)
                mark = " (latest)" if v == latest.get("version") else ""
                print(f"v{v}: {snap['total_rows']} rows, "
                      f"{len(snap['files'])} files{mark}")
        return 0
    m = read_manifest(args.path)
    print(f"version {m.get('version', 0)}: {m['total_rows']} rows in "
          f"{len(m['files'])} files, "
          f"{sum(e['bytes'] for e in m['files'])} bytes")
    if m.get("batches"):
        print(f"streaming batches committed: {m['batches']}")
    return 0


def _run_catalog(args) -> int:
    from setup_harvest_action_spark.catalog import load_catalog

    queries, oracles = load_catalog()
    if args.list:
        for name in queries:
            print(f"{name}  [{'oracled' if name in oracles else 'rows-only'}]")
        return 0
    name = args.explain or args.run
    if not name:
        raise ValueError("catalog requires --list, --explain NAME, or --run NAME")
    if name not in queries:
        raise ValueError(f"unknown catalog query: {name}")
    from setup_harvest_action_spark.session import get_spark

    spark = get_spark("catalog-cli")
    df = queries[name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.rows, truncate=False)
    return 0


def _run_harvest(args) -> int:
    from setup_harvest_action_spark.harvest.load import HarvestState, harvest_run
    from setup_harvest_action_spark.io.sqlite_export import export_sqlite
    from setup_harvest_action_spark.schemas import SPARQL_BINDINGS
    from setup_harvest_action_spark.session import get_spark

    if not args.bindings and args.fake_endpoint is None and not args.endpoint:
        raise ValueError(
            "a bindings path, --fake-endpoint N, or --endpoint URL is required"
        )
    if args.endpoint and not args.collection:
        raise ValueError("--endpoint requires --collection URI")

    spark = get_spark("harvest-cli")
    if args.endpoint:
        # the reference's live path (harvest.py:403-416), opt-in only:
        # this is the single place the engine ever touches the network
        from setup_harvest_action_spark.sources.sparql import (
            UrllibTransport,
            sparql_source,
        )

        bindings = sparql_source(
            spark,
            args.collection,
            UrllibTransport(args.endpoint),
            page_size=args.batch_size,
        )
    elif args.fake_endpoint is not None:
        from setup_harvest_action_spark.sources.sparql import (
            FakeSparqlEndpoint,
            sparql_source,
        )

        bindings = sparql_source(
            spark,
            "http://vocab.example/collection",
            FakeSparqlEndpoint(n_concepts=args.fake_endpoint),
            page_size=args.batch_size,
        )
    elif args.bindings.endswith(".json"):
        bindings = spark.read.schema(SPARQL_BINDINGS).json(args.bindings)
    else:
        bindings = spark.read.schema(SPARQL_BINDINGS).parquet(args.bindings)

    state_dir = args.state_dir or tempfile.mkdtemp(prefix="harvest_state_")
    if args.bucketed:
        import datetime as _dt

        from setup_harvest_action_spark.harvest.bucketed import (
            BucketedHarvestState,
        )

        bstate = BucketedHarvestState(
            spark, state_dir, n_buckets=args.state_buckets
        )
        ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        stats = bstate.load_batch(bindings, ts)
        terms, term_fields = (
            bstate.terms().drop("bucket"),
            bstate.term_fields().drop("bucket"),
        )
    else:
        state, stats = harvest_run(
            spark, [bindings], state_dir, state=HarvestState.latest(spark, state_dir)
        )
        terms, term_fields = state.terms, state.term_fields
    counts = export_sqlite(terms, term_fields, args.db)

    # the reference's printed summary (harvest.py:377-380)
    print("Harvest summary:")
    print(f"  - New terms inserted: {stats.terms_inserted}")
    print(f"  - Existing terms updated: {stats.terms_updated}")
    print(f"  - New term fields inserted: {stats.fields_inserted}")
    print(f"Output database: {args.db} "
          f"({counts['terms']} terms, {counts['term_fields']} term_fields)")
    return 0


def main(argv: list[str] | None = None) -> int:
    """Error taxonomy per the reference (harvest.py:474-485): invalid
    input, database error, and unexpected error are distinguished in
    the message; all exit 1."""
    try:
        args = _build_parser().parse_args(argv)
        if args.command == "catalog":
            return _run_catalog(args)
        if args.command == "manifest":
            return _run_manifest(args)
        if args.command == "pipeline":
            return _run_pipeline(args)
        if args.command == "ann":
            return _run_ann(args)
        return _run_harvest(args)
    except ValueError as e:
        print(f"Invalid input: {e}")
        return 1
    except sqlite3.Error as e:
        print(f"Database error during harvest: {e}")
        return 1
    except Exception as e:  # noqa: BLE001 — the reference's catch-all
        print(f"Error during harvest: {e}")
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
