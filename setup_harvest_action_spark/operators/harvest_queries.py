"""Harvest load path as catalog queries — the reference's semantic heart
made visible to the correctness gate.

The fixture is a deterministic inline bindings batch shaped exactly
like the reference's SPARQL JSON bindings (SURVEY.md §1.1): wide
nullable rows, OPTIONAL cross-product duplicates (two altLabels →
two rows), exact duplicate rows, empty-string and NULL concepts
(skip path, harvest.py:321-323), and empty optional values
(falsiness guard, harvest.py:361).  Batch timestamps are pinned
literals so every run is bit-deterministic and DuckDB-comparable.

Each query runs the REAL load code (normalize/upsert/append — no
reimplementation) and is oracled by ANSI SQL that restates the
contract:

  * ``q_harvest_unpivot``      — wide→long melt + dedup (O12)
  * ``q_harvest_terms``        — first-run upsert: ids + timestamps (O13)
  * ``q_harvest_rerun_terms``  — double-run: ids/created_at stable,
                                 updated_at advances (idempotence,
                                 harvest.py:292-299)
  * ``q_harvest_term_fields``  — FK-resolved anti-join append (O14/O15)
  * ``q_harvest_rerun_stats``  — load statistics of the second run:
                                 0 inserts anywhere (O16/O18)
"""

from __future__ import annotations

import datetime as _dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from setup_harvest_action_spark.catalog import query
from setup_harvest_action_spark.harvest.constraints import (
    duplicate_keys,
    fk_orphans,
)
from setup_harvest_action_spark.harvest.field_mappings import FIELD_MAPPINGS
from setup_harvest_action_spark.harvest.load import (
    HarvestState,
    harvest_batch,
    harvest_run,
)
from setup_harvest_action_spark.harvest.normalize import unpivot_bindings
from setup_harvest_action_spark.io.loaders import load_table
from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

# (concept, prefLabel, altLabel, definition) — see module docstring.
_BINDING_ROWS: list[tuple[str | None, str | None, str | None, str | None]] = [
    ("http://vocab.example/term/algae", "Algae", "Seaweed",
     "Aquatic photosynthetic organisms"),
    ("http://vocab.example/term/algae", "Algae", "Kelp",
     "Aquatic photosynthetic organisms"),
    ("http://vocab.example/term/benthos", "Benthos", None,
     "Organisms living on the seabed"),
    ("http://vocab.example/term/benthos", "Benthos", None,
     "Organisms living on the seabed"),
    ("http://vocab.example/term/coral", "Coral", "", None),
    (None, "Ghost", "Spectre", "No concept, row skipped"),
    ("", "Empty", None, None),
    ("http://vocab.example/term/diatom", "Diatom", "Bacillariophyta", None),
]

_T1 = _dt.datetime(2026, 1, 1, 0, 0, 0)
_T2 = _dt.datetime(2026, 1, 2, 0, 0, 0)


def _sql_lit(v: str | None) -> str:
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


_BINDINGS_VALUES = ",\n    ".join(
    f"({_sql_lit(c)}, {_sql_lit(p)}, {_sql_lit(a)}, {_sql_lit(d)})"
    for c, p, a, d in _BINDING_ROWS
)

# Shared oracle CTEs: the bindings fixture, its long (unpivoted) form,
# and the distinct valid concepts with dense surrogate ids.
_PREF_URI, _PREF_TERM = FIELD_MAPPINGS["prefLabel"]
_ALT_URI, _ALT_TERM = FIELD_MAPPINGS["altLabel"]
_DEF_URI, _DEF_TERM = FIELD_MAPPINGS["definition"]

_ORACLE_CTES = f"""
WITH bindings(concept, prefLabel, altLabel, definition) AS (VALUES
    {_BINDINGS_VALUES}
),
long AS (
    SELECT concept, '{_PREF_URI}' AS field_uri, '{_PREF_TERM}' AS field_term,
           prefLabel AS original_value FROM bindings
    UNION ALL
    SELECT concept, '{_ALT_URI}', '{_ALT_TERM}', altLabel FROM bindings
    UNION ALL
    SELECT concept, '{_DEF_URI}', '{_DEF_TERM}', definition FROM bindings
),
long_clean AS (
    SELECT DISTINCT concept, field_uri, field_term, original_value
    FROM long
    WHERE concept IS NOT NULL AND concept <> ''
      AND original_value IS NOT NULL AND original_value <> ''
),
concepts AS (
    SELECT CAST(row_number() OVER (ORDER BY uri) AS BIGINT) AS id, uri
    FROM (SELECT DISTINCT concept AS uri FROM bindings
          WHERE concept IS NOT NULL AND concept <> '')
)
"""


def _bindings_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_BINDING_ROWS, SPARQL_BINDINGS)


@query(
    "q_harvest_unpivot",
    oracle=_ORACLE_CTES
    + """
SELECT concept, field_uri, field_term, original_value FROM long_clean
""",
)
def q_harvest_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (O12): Catalyst Expand + broadcast field lookup +
    composite-key dedup.  Null/empty concepts and values are dropped
    (harvest.py:321-323, :361); cross-product duplicates collapse
    (UNIQUE at harvest.py:210)."""
    return unpivot_bindings(_bindings_df(spark))


@query(
    "q_harvest_terms",
    oracle=_ORACLE_CTES
    + """
SELECT id, uri,
       TIMESTAMP '2026-01-01 00:00:00' AS created_at,
       TIMESTAMP '2026-01-01 00:00:00' AS updated_at
FROM concepts
""",
)
def q_harvest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-run upsert on empty state (O13): every distinct valid
    concept inserted with a dense surrogate id and batch timestamps."""
    state, _ = harvest_batch(HarvestState.empty(spark), _bindings_df(spark), _T1)
    state.release()  # catalog queries are one-shot: no session-wide caches
    return state.terms


@query(
    "q_harvest_rerun_terms",
    oracle=_ORACLE_CTES
    + """
SELECT id, uri,
       TIMESTAMP '2026-01-01 00:00:00' AS created_at,
       TIMESTAMP '2026-01-02 00:00:00' AS updated_at
FROM concepts
""",
)
def q_harvest_rerun_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent rerun (harvest.py:292-299): same bindings loaded at T2
    over the T1 state — ids and created_at survive byte-identical, only
    updated_at advances.  This oracle failing would mean the merge
    clobbered history."""
    state, _ = harvest_batch(HarvestState.empty(spark), _bindings_df(spark), _T1)
    state.release()
    state, _ = harvest_batch(state, _bindings_df(spark), _T2)
    state.release()
    return state.terms


@query(
    "q_harvest_term_fields",
    oracle=_ORACLE_CTES
    + """
SELECT CAST(row_number() OVER (ORDER BY c.id, l.field_uri, l.original_value) AS BIGINT)
           AS id,
       c.id AS term_id,
       l.field_uri, l.field_term, l.original_value,
       TIMESTAMP '2026-01-01 00:00:00' AS created_at,
       TIMESTAMP '2026-01-01 00:00:00' AS updated_at
FROM long_clean l JOIN concepts c ON l.concept = c.uri
""",
)
def q_harvest_term_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join append with FK resolution (O14/O15): long rows joined
    to terms for term_id (the reference's 2-per-row point lookups as
    ONE equi-join), composite-key deduped, dense ids."""
    state, _ = harvest_batch(HarvestState.empty(spark), _bindings_df(spark), _T1)
    state.release()
    return state.term_fields


@query(
    "q_harvest_rerun_stats",
    oracle=_ORACLE_CTES
    + """
SELECT CAST(0 AS BIGINT) AS terms_inserted,
       (SELECT CAST(count(*) AS BIGINT) FROM concepts) AS terms_updated,
       CAST(0 AS BIGINT) AS fields_inserted
""",
)
def q_harvest_rerun_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load statistics of the second run (O16/O18): the idempotence
    contract as numbers — zero inserts on both tables, every concept
    touched as an update.  Both runs commit through ``harvest_run``
    into a scratch state dir, the path whose statistics the CLI
    prints."""
    import tempfile

    with tempfile.TemporaryDirectory(prefix="harvest_rerun_stats_") as state_dir:
        state, _ = harvest_run(spark, [_bindings_df(spark)], state_dir, batch_ts=_T1)
        _, stats = harvest_run(
            spark, [_bindings_df(spark)], state_dir, state=state, batch_ts=_T2
        )
    return spark.createDataFrame(
        [(stats.terms_inserted, stats.terms_updated, stats.fields_inserted)],
        "terms_inserted long, terms_updated long, fields_inserted long",
    )


@query(
    "q_harvest_bucketed_rerun",
    oracle=_ORACLE_CTES
    + """
SELECT c.uri,
       TIMESTAMP '2026-01-01 00:00:00' AS created_at,
       TIMESTAMP '2026-01-02 00:00:00' AS updated_at,
       (SELECT CAST(count(*) AS BIGINT) FROM long_clean l
        WHERE l.concept = c.uri) AS n_fields
FROM concepts c
""",
)
def q_harvest_bucketed_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-pruned merge (harvest/bucketed.py) under the same
    idempotence contract as ``q_harvest_rerun_terms``: the T1 batch
    loads into hash-partitioned parquet state, the T2 rerun touches
    only its own buckets, inserts nothing, advances ``updated_at``,
    and skips the ``term_fields`` commit outright.  Surrogate ids are
    xxhash64 (not SQL-reproducible), so the oracle checks the visible
    contract: per-uri timestamps and the FK-resolved field count —
    which still exercises the hash-id join, since a broken id would
    zero the counts."""
    import tempfile

    from setup_harvest_action_spark.harvest.bucketed import BucketedHarvestState

    root = tempfile.mkdtemp(prefix="harvest_bucketed_")
    state = BucketedHarvestState(spark, root, n_buckets=8)
    state.load_batch(_bindings_df(spark), _T1)
    state.load_batch(_bindings_df(spark), _T2)
    counts = (
        state.term_fields()
        .groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("n_fields"))
    )
    return (
        state.terms()
        .join(counts, F.col("id") == F.col("term_id"), "left")
        .select(
            "uri",
            "created_at",
            "updated_at",
            F.coalesce("n_fields", F.lit(0)).cast("long").alias("n_fields"),
        )
    )


@query(
    "q_sparql_source_sim",
    oracle="""
WITH idx AS (SELECT unnest(range(0, 2500)) AS i),
base AS (
    SELECT printf('http://vocab.example/collection/c%05d', i) AS concept,
           'Term ' || i AS prefLabel,
           CASE WHEN i % 2 = 0 THEN 'Alt ' || i END AS altLabel,
           CASE WHEN i % 3 = 0 THEN 'Definition of term ' || i END AS definition,
           i
    FROM idx
)
SELECT concept, prefLabel, altLabel, definition FROM base
UNION ALL
SELECT concept, prefLabel, 'Alt ' || i || ' bis' AS altLabel, definition
FROM base WHERE i % 10 = 0
""",
)
def q_sparql_source_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live SPARQL source machinery (O1/O8/O10) end-to-end against
    a deterministic in-process endpoint: count pre-query sizes the page
    range, executors fetch LIMIT/OFFSET pages in parallel via
    mapInPandas, JSON bindings parse to nullable rows.  The oracle
    regenerates the synthetic collection arithmetically — 2,500
    concepts with reference-shaped optionality and cross-product
    altLabel rows.  Only the HTTP transport is fake; every other moving
    part (query text, pagination, backoff wiring, parsing, schema) is
    the production path (sources/sparql.py)."""
    from setup_harvest_action_spark.sources.sparql import (
        FakeSparqlEndpoint,
        sparql_source,
    )

    return sparql_source(
        spark,
        "http://vocab.example/collection",
        FakeSparqlEndpoint(n_concepts=2500),
        page_size=1000,
    )


@query(
    "q_constraint_report",
    oracle="""
SELECT 'fk_orders_customer' AS constraint_name,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           AS violations
UNION ALL
SELECT 'fk_lineitem_orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'fk_nation_region',
       (SELECT CAST(count(*) AS BIGINT) FROM nation n
        WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
UNION ALL
SELECT 'unique_customer_pk',
       (SELECT CAST(count(*) AS BIGINT) FROM
        (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1))
""",
)
def q_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constraint pack (O11's UNIQUE/FK assertions) run against the
    fixture star schema — referential integrity as data, with a real
    SQL oracle.  Each check is one anti-join or one keyed aggregate,
    UNIONED into one lazy plan: constructing the report launches no
    Spark jobs, and one action evaluates every check (the checks run
    as parallel stages of a single job instead of serial driver-side
    counts)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    def check(name: str, violations: DataFrame) -> DataFrame:
        return violations.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("constraint_name"), "violations"
        )

    checks = [
        check(
            "fk_orders_customer",
            fk_orphans(orders, customer, "o_custkey", "c_custkey"),
        ),
        check(
            "fk_lineitem_orders",
            fk_orphans(lineitem, orders, "l_orderkey", "o_orderkey"),
        ),
        check(
            "fk_nation_region",
            fk_orphans(nation, region, "n_regionkey", "r_regionkey"),
        ),
        check("unique_customer_pk", duplicate_keys(customer, ["c_custkey"])),
    ]
    report = checks[0]
    for c in checks[1:]:
        report = report.unionByName(c)
    return report


@query(
    "q_harvest_downstream_preserved",
    oracle=_ORACLE_CTES
    + """
SELECT c.uri, l.field_term, l.original_value,
       'es' AS language,
       'tr-' || l.original_value AS translation_value,
       'approved' AS status,
       'maria' AS created_by,
       CAST(l.original_value = 'Algae' AS BOOLEAN) AS has_appeal,
       TIMESTAMP '2026-01-02 00:00:00' AS term_updated_at
FROM long_clean l JOIN concepts c ON l.concept = c.uri
""",
)
def q_harvest_downstream_preserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idempotence heart surfaced as an oracled contract
    (harvest.py:292-299 + :163-168): downstream tables the harvest
    never writes (translations/appeals/appeal_messages/users) must
    survive a REHARVEST byte-identical.  Sequence: T1 harvest →
    export to a live ``translations.db`` → a consumer seeds a user,
    one approved translation per term_field, and an appeal thread on
    one of them → T2 reharvest of the SAME bindings re-exported into
    the SAME database.  The query returns every translation joined
    back through term_fields → terms: the oracle failing would mean
    the re-export clobbered or orphaned consumer data (the exact
    regression the reference's INSERT-OR-IGNORE + uri-keyed upsert
    discipline exists to prevent), while ``term_updated_at = T2``
    proves the reharvest really ran.  Scale note: the read-back is
    vocabulary-bounded (the compat sink's own contract — the
    reference IS a sqlite client); corpus-scale state lives in the
    parquet/bucketed paths."""
    import os
    import sqlite3
    import tempfile

    from setup_harvest_action_spark.io.sqlite_export import export_sqlite

    state, _ = harvest_batch(HarvestState.empty(spark), _bindings_df(spark), _T1)
    state.release()
    db = os.path.join(
        tempfile.mkdtemp(prefix="harvest_downstream_"), "translations.db"
    )
    export_sqlite(state.terms, state.term_fields, db)

    conn = sqlite3.connect(db)
    try:
        conn.execute("PRAGMA foreign_keys = ON")
        conn.execute(
            "INSERT INTO users (username, reputation) VALUES ('maria', 42)"
        )
        conn.execute(
            "INSERT INTO translations "
            "(term_field_id, language, value, status, created_by) "
            "SELECT id, 'es', 'tr-' || original_value, 'approved', 'maria' "
            "FROM term_fields"
        )
        conn.execute(
            "INSERT INTO appeals (translation_id, opened_by) "
            "SELECT id, 'maria' FROM translations WHERE value = 'tr-Algae'"
        )
        conn.execute(
            "INSERT INTO appeal_messages (appeal_id, author, message) "
            "SELECT id, 'maria', 'please review' FROM appeals"
        )
        conn.commit()
    finally:
        conn.close()

    # REHARVEST: the T2 rerun over the T1 state, re-exported into the
    # LIVE database a consumer has been writing to
    state2, _ = harvest_batch(state, _bindings_df(spark), _T2)
    state2.release()
    export_sqlite(state2.terms, state2.term_fields, db)

    conn = sqlite3.connect(db)
    try:
        rows = conn.execute(
            """
            SELECT tm.uri, tf.field_term, tf.original_value,
                   tr.language, tr.value, tr.status, tr.created_by,
                   EXISTS(SELECT 1 FROM appeals a
                          JOIN appeal_messages m ON m.appeal_id = a.id
                          WHERE a.translation_id = tr.id) AS has_appeal,
                   tm.updated_at
            FROM translations tr
            JOIN term_fields tf ON tf.id = tr.term_field_id
            JOIN terms tm ON tm.id = tf.term_id
            """
        ).fetchall()
    finally:
        conn.close()
    import datetime as _dtmod

    data = [
        (u, ft, ov, lang, val, st, cb, bool(ha),
         _dtmod.datetime.fromisoformat(ua))
        for (u, ft, ov, lang, val, st, cb, ha, ua) in rows
    ]
    return spark.createDataFrame(
        data,
        "uri string, field_term string, original_value string, "
        "language string, translation_value string, status string, "
        "created_by string, has_appeal boolean, term_updated_at timestamp",
    )
