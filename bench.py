"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as ent
from setup_harvest_action_spark.session import DEFAULT_SF_DIR, get_spark

# Headline set: the flagship read path plus the heaviest per-category
# operators; every other query still runs in the correctness gate.  The
# order is fixed so results stay comparable round over round; why each
# query joined is recorded in BENCHNOTES.md ("Headline set history").
HEADLINE = [
    "q_harvest_read_path",
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_rollup_order_stats",
    "q_count_distinct_members",
    "q_join_asof",
    "q_window_topk_per_group",
    "q_text_tfidf",
    "q_dedup_ngram_jaccard",
    "q_similarity_exact_topk",
    "q_stream_tumbling_counts",
    "q_dedup_minhash",
    "q_quality_repetition",
    "q_graph_pagerank",
    "q_events_sessionize",
    "q_events_cohort_retention",
    "q_scd2_customer_segment",
    "q_embedding_kmeans",
    "q_dedup_semantic",
    "q_agg_hll_partitioned",
    "q_shipping_priority",
    "q_large_orders",
    "q_sample_source_cap",
    "q_graph_triangle_count",
    "q_dedup_fuzzy_edit",
    "q_pipeline_entity_resolution",
    "q_events_resample_interp",
    "q_dedup_containment",
    "q_dedup_substring_spans",
    "q_agg_chi_square",
    "q_stream_trending_topk",
    "q_dedup_winnowing",
    "q_text_lm_bigram_score",
    "q_graph_label_propagation",
    "q_national_market_share",
    "q_similarity_pq_adc",
    "q_similarity_pq_adc_stored",
    "q_multimodal_webp_lossy_pipeline",
    "q_multimodal_gif_anim_pipeline",
    "q_multimodal_pdf_pipeline",
    "q_pipeline_charset_decode",
    "q_graph_crawl_pagerank",
    "q_pipeline_crawl_rounds",
    "q_pipeline_wet_roundtrip",
    "q_pipeline_warc_content_codings",
    "q_pipeline_warc_revisit",
    "q_pipeline_crawl_budget",
]


RUNS = 3  # timed passes per query; reported figure is the median


def _materialize(df) -> None:
    """Force full evaluation of every output column.

    ``df.count()`` lets Catalyst prune unreferenced aggregate
    expressions (a count over q_pricing_summary can drop the sums), so
    timings would under-measure.  The noop sink consumes every column
    of every row with zero write cost.
    """
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # The bench runs the PRODUCTION sketch-hash spelling (xxhash64 —
    # pure JVM, no hex round-trip); the md5 spelling exists for the
    # DuckDB oracle path, which the driver gate exercises separately.
    # Spelling equivalence on the fixture is pinned by
    # tests/test_hash_spellings.py.  setdefault so an explicit
    # SPARK_GRAFT_SKETCH_HASH=md5 can still A/B the oracle spelling.
    os.environ.setdefault("SPARK_GRAFT_SKETCH_HASH", "xxhash64")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries = ent.queries()
    names = [n for n in HEADLINE if n in queries] or sorted(queries)

    # JVM/codegen warmup on a trivial job so q1 doesn't pay session startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    # r14 methodology (VERDICT r13 #4 — tame the instrument, not just
    # report it): timed repeats are INTERLEAVED as whole passes over
    # the query list instead of back-to-back per query, so an external
    # load spike lands in ONE pass (one run per query) rather than in
    # all repeats of whichever queries were executing.  The 1-minute
    # load average is recorded at each pass start; a pass whose load
    # exceeds the quietest pass by more than LOAD_SPIKE_DELTA is
    # dropped from every query's median (raw runs and loads stay in
    # the JSON), and median-of-3 already absorbs a single spiked run
    # even when the load column misses it.
    LOAD_SPIKE_DELTA = 8.0  # 1-min load over quietest pass ⇒ spiked

    # Cold pass (untimed): parquet footer reads, plan compilation,
    # codegen — fixed costs billed once per session, not per query.
    for name in names:
        _materialize(queries[name](spark, sf_dir))

    raw: dict[str, list] = {name: [] for name in names}
    pass_loads: list[float] = []
    for _ in range(RUNS):
        pass_loads.append(round(os.getloadavg()[0], 2))
        for name in names:
            t0 = time.time()
            _materialize(queries[name](spark, sf_dir))
            raw[name].append(round(time.time() - t0, 3))

    quiet = min(pass_loads)
    spiked = [
        i for i, l in enumerate(pass_loads) if l - quiet > LOAD_SPIKE_DELTA
    ]
    keep_idx = [i for i in range(RUNS) if i not in spiked] or list(
        range(RUNS)
    )

    timings: dict[str, float] = {}
    spread_pct: dict[str, float] = {}
    for name in names:
        runs = [raw[name][i] for i in keep_idx]
        med = sorted(runs)[len(runs) // 2]
        timings[name] = med
        # per-query spread makes round-over-round deltas readable:
        # a delta inside the query's own spread is noise, not a plan
        # change (BENCHNOTES r13 methodology; spread is over KEPT runs)
        spread_pct[name] = round(100.0 * (max(runs) - min(runs)) / med, 1)
        print(f"# {name}: median {timings[name]}s over passes {keep_idx} "
              f"(raw: {raw[name]})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread_pct": spread_pct,
                "raw_runs": raw,
                "load_1m": pass_loads,
                "dropped_passes": spiked,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
