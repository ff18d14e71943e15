"""Property-based tests (SURVEY.md §5.3): constraint invariants over
randomized inputs.

Pure-Python properties (codecs, parsers) run at full Hypothesis volume;
the Spark harvest invariants run a bounded number of randomized batches
(each example is a real Spark job) and assert the reference's database
constraints — UNIQUE uri, composite term_fields key, FK integrity,
null/empty-concept exclusion, rerun idempotence (harvest.py:192, 210,
292-299)."""

from __future__ import annotations

import datetime as dt
import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- pure

_value = st.text(alphabet=string.printable.strip(), min_size=1, max_size=12)


@st.composite
def _binding(draw):
    b = {}
    if draw(st.booleans()):
        b["concept"] = {"type": "uri", "value": draw(_value)}
    for var in ("prefLabel", "altLabel", "definition"):
        if draw(st.booleans()):
            b[var] = {"type": "literal", "value": draw(_value)}
    return b


@given(st.lists(_binding(), max_size=20))
def test_bindings_to_rows_null_semantics(bindings):
    """Key absence becomes None in exactly the right positions, order
    is preserved, and no extra rows appear (harvest.py:360)."""
    from setup_harvest_action_spark.sources.sparql import bindings_to_rows

    rows = bindings_to_rows({"results": {"bindings": bindings}})
    assert len(rows) == len(bindings)
    for b, row in zip(bindings, rows):
        for i, var in enumerate(("concept", "prefLabel", "altLabel", "definition")):
            if var in b:
                assert row[i] == b[var]["value"]
            else:
                assert row[i] is None


@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_ppm_codec_roundtrip(width, height, seed):
    """decode(encode(img)) is the identity for any image size, and the
    resize output always has the requested shape with pixels drawn from
    the input."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    n = width * height * 3
    idx = np.arange(n, dtype=np.uint64)
    rgb = ((np.uint64(seed) + idx * np.uint64(2654435761)) % 256).astype(
        np.uint8
    ).reshape(height, width, 3)
    decoded = decode_ppm(encode_ppm(width, height, rgb))
    assert (decoded == rgb).all()
    thumb = resize_nearest(decoded, 3, 2)
    assert thumb.shape == (2, 3, 3)
    assert set(thumb.reshape(-1)) <= set(rgb.reshape(-1))


@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_bmp_codec_roundtrip(width, height, seed):
    """decode(encode(img)) is the identity for any size — including
    widths whose 3-byte rows need 4-byte padding — and the sniffing
    dispatcher routes BMP bytes to the BMP decoder."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        decode_bmp,
        decode_image_auto,
        encode_bmp,
    )

    n = width * height * 3
    idx = np.arange(n, dtype=np.uint64)
    rgb = ((np.uint64(seed) + idx * np.uint64(2654435761)) % 256).astype(
        np.uint8
    ).reshape(height, width, 3)
    payload = encode_bmp(width, height, rgb)
    assert (decode_bmp(payload) == rgb).all()
    assert (decode_image_auto(payload) == rgb).all()


@given(st.binary(min_size=0, max_size=512))
def test_fake_resize_bounds_and_determinism(payload):
    from setup_harvest_action_spark.functions.multimodal import (
        THUMB_BYTES,
        fake_resize,
    )

    out = fake_resize(payload)
    assert len(out) <= THUMB_BYTES
    assert out == fake_resize(payload)
    assert set(out) <= set(payload) or payload == b""


# --------------------------------------------------------------- spark

_uri = st.one_of(
    st.none(),
    st.just(""),
    st.sampled_from([f"http://v.example/c{i}" for i in range(6)]),
)
_label = st.one_of(st.none(), st.text(alphabet="abc xyz", max_size=6))
_row = st.tuples(_uri, _label, _label, _label)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_row, min_size=1, max_size=25))
def test_harvest_invariants_hold_for_random_batches(spark, rows):
    """For ANY batch shape — duplicate uris, cross-product label rows,
    null/empty concepts, null fields — the load output satisfies the
    reference's constraints and the rerun is idempotent."""
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.harvest.load import HarvestState, harvest_batch
    from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

    # Other tests in the shared session may legitimately hold caches
    # (e.g. connected_components returns a cached frame its caller
    # releases later) — record them so the release-contract assertion
    # below checks only the caches THIS test created.
    jsc = spark.sparkContext._jsc.sc()
    preexisting = int(jsc.getPersistentRDDs().size())

    bindings = spark.createDataFrame(rows, SPARQL_BINDINGS)
    ts = dt.datetime(2026, 3, 1)
    state, _ = harvest_batch(HarvestState.empty(spark), bindings, ts)
    terms = state.terms.collect()
    fields = state.term_fields.collect()

    valid_uris = {r[0] for r in rows if r[0]}
    # UNIQUE(uri), and exactly the non-null/non-empty concepts load
    assert len({t.uri for t in terms}) == len(terms)
    assert {t.uri for t in terms} == valid_uris
    # composite UNIQUE(term_id, field_uri, original_value)
    keys = [(f.term_id, f.field_uri, f.original_value) for f in fields]
    assert len(set(keys)) == len(keys)
    # FK: every field hangs off an existing term; values never null
    term_ids = {t.id for t in terms}
    assert all(f.term_id in term_ids for f in fields)
    assert all(f.original_value is not None for f in fields)
    # rerun idempotence (harvest.py:292-299)
    state2, resolve2 = harvest_batch(state, bindings, dt.datetime(2026, 3, 2))
    assert state2.terms.count() == len(terms)
    assert state2.term_fields.count() == len(fields)
    stats2 = resolve2()  # observed by the two counts above
    assert stats2.terms_inserted == 0
    assert stats2.fields_inserted == 0
    # the release contract: caches drop to zero once both states are
    # done (harvest_run does this per committed batch)
    state.release()
    state2.release()
    assert int(jsc.getPersistentRDDs().size()) == preexisting


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400
    ),
    st.sampled_from([4000, 8000, 16000, 44100]),
)
def test_wav_codec_roundtrip_random(samples, rate):
    """RIFF/WAVE encode→decode is the identity for any mono int16
    signal at any standard rate — chunk walking, sizes, and alignment
    hold for odd lengths too."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
    )

    arr = np.array(samples, dtype=np.int16)
    got_rate, back = decode_wav(encode_wav(arr, rate))
    assert got_rate == rate
    assert back.dtype == np.int16
    assert (back == arr).all()


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _py_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min reachable id per node = root under min-union
    return {i: find(i) for i in range(n_nodes)}


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    """Iterative min-label propagation must equal a pure-Python
    union-find on arbitrary random graphs (self-loops and duplicate
    edges included) — every vertex labeled with the minimum id
    reachable from it."""
    from setup_harvest_action_spark.functions.dedup import connected_components

    edges = [(u, v) for u, v in raw_edges]
    df = spark.createDataFrame(edges, "vec_a long, vec_b long")
    got = {
        r["id"]: r["label"] for r in connected_components(df).collect()
    }
    expected_all = _py_components(15, edges)
    seen = {u for e in edges for u in e}
    expected = {u: expected_all[u] for u in seen}
    # connected_components labels exactly the vertices that appear
    assert got == expected


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc ", max_size=20),
            st.text(alphabet="abc ", max_size=20),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_banded_levenshtein_matches_reference_dp(spark, string_pairs):
    """The 3-arg banded levenshtein the fuzzy family relies on must
    agree with a reference DP: exact distance whenever it is within
    the bound, -1 whenever it exceeds it."""
    import pyspark.sql.functions as F

    bound = 6
    df = spark.createDataFrame(string_pairs, "a string, b string")
    got = df.select(
        "a", "b", F.levenshtein("a", "b", bound).alias("d")
    ).collect()
    for r in got:
        expected = _py_levenshtein(r["a"], r["b"])
        if expected <= bound:
            assert r["d"] == expected, (r["a"], r["b"])
        else:
            assert r["d"] == -1, (r["a"], r["b"])


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # user_id
            st.integers(min_value=0, max_value=10_000),  # ts offset sec
            st.integers(min_value=-50, max_value=50),    # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_time_decay_score_matches_python_fold(spark, raw_events):
    """q_events_time_decay_score's windowed form must equal the
    straightforward per-user Python fold: sort events newest-first
    (ties on event_id), weight the i-th by λ^i, keep only the first
    EWMA_LAST_N."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from setup_harvest_action_spark.operators.events_analytics import (
        EWMA_DECAY,
        EWMA_LAST_N,
    )

    base = dt.datetime(2026, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=sec), uid, float(val))
        for i, (uid, sec, val) in enumerate(raw_events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    got = {
        r["user_id"]: (r["decay_score"], r["n_scored"])
        for r in df.select(
            "user_id", "value", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= EWMA_LAST_N)
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.col("value") * F.pow(F.lit(EWMA_DECAY), F.col("rn") - 1)
                ),
                4,
            ).alias("decay_score"),
            F.count(F.lit(1)).alias("n_scored"),
        )
        .collect()
    }

    by_user: dict = {}
    for eid, ts, uid, val in rows:
        by_user.setdefault(uid, []).append((ts, eid, val))
    for uid, evs in by_user.items():
        evs.sort(key=lambda t: (t[0], t[1]), reverse=True)
        kept = evs[:EWMA_LAST_N]
        score = round(
            sum(v * EWMA_DECAY**i for i, (_, _, v) in enumerate(kept)), 4
        )
        assert got[uid] == (score, len(kept)), uid


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=0, max_size=60),
        min_size=2,
        max_size=8,
        unique=True,
    )
)
def test_substring_spans_match_bruteforce(spark, texts):
    """The inverted-index span pairing must equal the brute-force
    definition: |{distinct SPAN_LEN-windows of A} ∩ {of B}| ≥
    SPAN_MIN_SHARED, with hot spans (doc-frequency > MAX_SPAN_DF)
    excluded — checked on adversarially repetitive binary-alphabet
    strings where window collisions are maximal."""
    import pyspark.sql.functions as F

    import setup_harvest_action_spark.functions.dedup as dedup
    from setup_harvest_action_spark.functions.dedup import (
        SPAN_MIN_SHARED,
    )

    span_len = 8  # shrink the window so tiny strings can collide
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = (
        df.filter(F.length("text") >= span_len)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(text) - {span_len} + 1),"
                        f" i -> substring(text, i, {span_len}))"
                    )
                )
            ).alias("span"),
        )
    )
    postings = (
        spans.groupBy("span")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= dedup.MAX_SPAN_DF))
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n"]
        for r in dedup._pairs_within(postings)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= SPAN_MIN_SHARED)
        .collect()
    }

    def windows(t: str) -> set:
        return {
            t[i : i + span_len] for i in range(len(t) - span_len + 1)
        }

    df_count: dict = {}
    for _, t in docs:
        for s in windows(t):
            df_count[s] = df_count.get(s, 0) + 1
    expected = {}
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1 :]:
            shared = {
                s
                for s in windows(ta) & windows(tb)
                if df_count[s] <= dedup.MAX_SPAN_DF
            }
            if len(shared) >= SPAN_MIN_SHARED:
                a, b = min(ia, ib), max(ia, ib)
                expected[(a, b)] = len(shared)
    assert got == expected


# ------------------------------------------------- BPE vs pure-Python


def _ref_bpe(words: dict[str, int], n_merges: int):
    """Reference BPE (pure Python): the textbook algorithm with the
    repo's deterministic tie-break (count DESC, left ASC, right ASC)."""
    seqs = {w: tuple(w) for w in words}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + words[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        merges.append((l, r, l + r, cnt))
        out = {}
        for w, seq in seqs.items():
            res, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            out[w] = tuple(res)
        seqs = out
    return merges


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_training_matches_reference_implementation(spark, tokens):
    """The distributed trainer must reproduce the textbook algorithm
    merge-for-merge (same pairs, same counts, same tie-breaks) on
    arbitrary corpora — including repeated tokens and in-word repeats
    like 'aaaa'."""
    from setup_harvest_action_spark.functions.tokenizer import train_bpe

    docs = spark.createDataFrame([(0, " ".join(tokens))], "doc_id long, text string")
    words: dict[str, int] = {}
    for t in tokens:
        words[t] = words.get(t, 0) + 1
    want = _ref_bpe(words, 3)
    got = [
        (g.p1, g.p2, g.merged, g.pair_count)
        for m in train_bpe(spark, docs, n_merges=3)
        for g in m.collect()
    ]
    assert got == want  # same merges, counts, tie-breaks, AND length


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
    )
)
def test_ranked_row_number_matches_sorted_ranks(spark, values):
    """The range-partitioned global rank must equal the single-machine
    sort rank on arbitrary integer multisets (duplicates decided by
    the tiebreaker), and the ridden-along total must be exact."""
    from setup_harvest_action_spark.operators.ranked import (
        ranked_row_number,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, v long"
    )
    got = {
        r.id: (r.rank, r.n)
        for r in ranked_row_number(
            df, "v", ["id"], out="rank", total="n"
        ).collect()
    }
    want = sorted(range(len(values)), key=lambda i: (values[i], i))
    for rank0, i in enumerate(want):
        assert got[i] == (rank0 + 1, len(values)), (i, values[i])
