"""The seeded input generator and the in-process transport."""

import random

from gen import (
    ALT,
    DEF,
    HOST,
    PREF,
    Collection,
    Concept,
    PageTransport,
    make_collection,
    merged,
    wire_rows,
    with_delta,
)

from setup_harvest_action_spark.sources.sparql import (
    bindings_to_rows,
    create_sparql_query,
    get_member_count,
)

URI_A = f"{HOST}P01/current/AAAA0001/"
URI_B = f"{HOST}P01/current/BBBB0002/"


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (make_collection(s, 300) for s in (7, 7, 8))
    assert a.concepts == b.concepts and a.rows == b.rows
    assert a.rows != c.rows
    d1 = with_delta(a, 7, 5, 3, tag=0)
    d2 = with_delta(b, 7, 5, 3, tag=0)
    assert d1.rows == d2.rows


def test_generated_collection_has_the_shapes_the_load_depends_on():
    coll = make_collection(3, 2000)
    uris = [c.uri for c in coll.concepts]
    assert len(set(uris)) == len(uris)
    # every uri shares far more than the load's 28-char dense-id prefix
    assert len({u[:28] for u in uris}) == 1
    assert any(len(c.alts) >= 2 for c in coll.concepts)  # cross-product rows
    assert any(c.pref is None for c in coll.concepts)
    assert any(c.pref == "" for c in coll.concepts)
    assert any(c.definition is None for c in coll.concepts)
    assert any(not v.isascii() for c in coll.concepts for v in (c.pref or "", *c.alts))
    assert any(not r[0] for r in coll.rows)  # empty-concept rows (skip path)
    wire = [r for r in coll.rows if r[0]]
    assert wire == sorted(wire, key=lambda r: r[0])  # ORDER BY ?concept


def test_expected_sets_match_a_hand_built_page():
    concepts = [
        Concept(URI_A, "Sea temperature", ("SST", "temp", "SST"), None),
        Concept(URI_B, "", (), "Salinité de l'eau"),
    ]
    rows = wire_rows(concepts, random.Random(0), skip_rows=0)
    assert rows == [
        (URI_A, "Sea temperature", "SST", None),
        (URI_A, "Sea temperature", "temp", None),
        (URI_A, "Sea temperature", "SST", None),
        (URI_B, "", None, "Salinité de l'eau"),
    ]
    coll = Collection("x", concepts, rows)
    assert coll.expected_uris() == {URI_A, URI_B}
    assert coll.expected_fields() == {
        (URI_A, PREF, "Sea temperature"),
        (URI_A, ALT, "SST"),
        (URI_A, ALT, "temp"),
        (URI_B, DEF, "Salinité de l'eau"),
    }


def test_merged_keeps_every_value_a_concept_was_given():
    base = make_collection(5, 50)
    delta = with_delta(base, 5, n_existing=4, n_new=2, tag=1)
    union = merged(base, delta)
    assert len(union.concepts) == 52
    assert base.expected_fields() < union.expected_fields()
    assert delta.expected_fields() <= union.expected_fields()


def test_transport_serves_count_and_pages_through_the_library():
    coll = make_collection(9, 900)
    transport = PageTransport(coll, page_size=500)
    assert get_member_count(transport, coll.uri) == 900
    got = []
    for k in range(len(transport.pages) + 1):
        page = transport(create_sparql_query(coll.uri, limit=500, offset=500 * k))
        got.extend(bindings_to_rows(page))
    assert got == coll.rows
