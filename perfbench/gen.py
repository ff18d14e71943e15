"""Seeded SKOS collection generator and in-process SPARQL transport.

The generator builds a collection shaped like the reference's real
traffic: concept URIs on the NERC vocabulary host
(``http://vocab.nerc.ac.uk/collection/<C>/current/<id>/``), so every URI
in a collection shares a prefix far longer than the load path's 28-char
dense-id partition prefix, and the SPARQL cross-product of
prefLabel x altLabel x definition as the wire rows, ordered by concept
and served in fixed-size row pages (LIMIT/OFFSET count solution rows).

Pure Python, no Spark: the expected outputs are computed here from the
concepts themselves, independently of the row expansion the harvest
has to undo.
"""

from __future__ import annotations

import random
import re
import string
from dataclasses import dataclass, field

HOST = "http://vocab.nerc.ac.uk/collection/"
SKOS = "http://www.w3.org/2004/02/skos/core#"
PREF, ALT, DEF = f"{SKOS}prefLabel", f"{SKOS}altLabel", f"{SKOS}definition"

# Non-ASCII alphabet slices: Latin-1 accents, Greek, CJK, and a
# supplementary-plane character (4 UTF-8 bytes, 2 UTF-16 units).
_NON_ASCII = "éèüößñçøåæ" "αβγδλμπσω" "海水温度塩分" "\U0001d54a"
_ASCII = string.ascii_letters + "     "


@dataclass(frozen=True)
class Concept:
    uri: str
    pref: str | None
    alts: tuple[str, ...]
    definition: str | None


@dataclass
class Collection:
    """A generated collection: its concepts plus the wire rows the
    endpoint serves for it."""

    uri: str
    concepts: list[Concept]
    rows: list[tuple] = field(default_factory=list)

    def expected_uris(self) -> set[str]:
        return {c.uri for c in self.concepts}

    def expected_fields(self) -> set[tuple[str, str, str]]:
        """(uri, field_uri, value) for every non-empty value: the
        harvest drops null and empty values and collapses duplicates."""
        out = set()
        for c in self.concepts:
            if c.pref:
                out.add((c.uri, PREF, c.pref))
            for a in c.alts:
                if a:
                    out.add((c.uri, ALT, a))
            if c.definition:
                out.add((c.uri, DEF, c.definition))
        return out

    def input_bytes(self) -> int:
        """UTF-8 bytes of every bound value on the wire."""
        return sum(len(v.encode()) for r in self.rows for v in r if v)


def _label(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    alphabet = _NON_ASCII if rng.random() < 0.15 else _ASCII
    text = "".join(rng.choice(alphabet) for _ in range(n)).strip()
    return text or "x"


def _value(rng: random.Random, p_present: float, p_empty: float, lo: int, hi: int):
    r = rng.random()
    if r < p_empty:
        return ""
    if r < p_empty + p_present:
        return _label(rng, lo, hi)
    return None


def make_concepts(
    rng: random.Random, n: int, code: str, taken: set[str] | None = None
) -> list[Concept]:
    """``n`` concepts with distinct ids in collection ``code``.
    Optionality: prefLabel on ~95% (2% empty), 0-3 altLabels, a
    definition on ~60% (5% empty); ~15% of labels are non-ASCII."""
    taken = set() if taken is None else taken
    out = []
    while len(out) < n:
        cid = "".join(rng.choice(string.ascii_uppercase + string.digits) for _ in range(8))
        if cid in taken:
            continue
        taken.add(cid)
        n_alts = rng.choices((0, 1, 2, 3), weights=(40, 30, 20, 10))[0]
        alts = tuple(
            dict.fromkeys(_value(rng, 0.97, 0.03, 2, 40) for _ in range(n_alts))
        )
        out.append(
            Concept(
                uri=f"{HOST}{code}/current/{cid}/",
                pref=_value(rng, 0.95, 0.02, 3, 60),
                alts=alts,
                definition=_value(rng, 0.60, 0.05, 20, 200),
            )
        )
    return out


def wire_rows(concepts: list[Concept], rng: random.Random, skip_rows: int) -> list[tuple]:
    """SELECT DISTINCT cross-product rows (concept, prefLabel, altLabel,
    definition) ordered by concept, plus ``skip_rows`` rows with an
    empty or absent concept at seeded positions (the load's skip
    path)."""
    rows = []
    for c in sorted(concepts, key=lambda c: c.uri):
        for alt in c.alts or (None,):
            rows.append((c.uri, c.pref, alt, c.definition))
    for _ in range(skip_rows):
        pos = rng.randint(0, len(rows))
        rows.insert(pos, (rng.choice(("", None)), _label(rng, 3, 20), None, None))
    return rows


def make_collection(seed: int, n_concepts: int, code: str = "P01") -> Collection:
    rng = random.Random(f"{seed}/{code}/{n_concepts}")
    concepts = make_concepts(rng, n_concepts, code)
    rows = wire_rows(concepts, rng, skip_rows=max(1, n_concepts // 200))
    return Collection(f"{HOST}{code}/current/", concepts, rows)


def with_delta(
    base: Collection, seed: int, n_existing: int, n_new: int, tag: int
) -> Collection:
    """A delta page: ``n_existing`` concepts of ``base`` with one added
    altLabel each, plus ``n_new`` new concepts."""
    rng = random.Random(f"{seed}/delta/{tag}")
    touched = [
        Concept(c.uri, c.pref, c.alts + (f"{_label(rng, 4, 30)} d{tag}",), c.definition)
        for c in rng.sample(base.concepts, n_existing)
    ]
    code = base.uri[len(HOST):].split("/", 1)[0]
    taken = {c.uri.rstrip("/").rsplit("/", 1)[1] for c in base.concepts}
    fresh = make_concepts(rng, n_new, code, taken)
    concepts = touched + fresh
    return Collection(base.uri, concepts, wire_rows(concepts, rng, skip_rows=1))


def merged(*colls: Collection) -> Collection:
    """The union of collections as the state should hold it: a concept
    appearing in several keeps every value it was ever given."""
    by_uri: dict[str, Concept] = {}
    for coll in colls:
        for c in coll.concepts:
            old = by_uri.get(c.uri)
            if old is None:
                by_uri[c.uri] = c
            else:
                alts = tuple(dict.fromkeys(old.alts + c.alts))
                by_uri[c.uri] = Concept(c.uri, old.pref, alts, old.definition)
    return Collection(colls[0].uri, list(by_uri.values()))


# -- SPARQL JSON ------------------------------------------------------------


def _binding(row: tuple) -> dict:
    out = {}
    for var, value in zip(("concept", "prefLabel", "altLabel", "definition"), row):
        if value is None:
            continue  # OPTIONAL absence is key absence on the wire
        kind = "uri" if var == "concept" else "literal"
        out[var] = {"type": kind, "value": value}
    return out


def results(rows: list[tuple]) -> dict:
    return {
        "head": {"vars": ["concept", "prefLabel", "altLabel", "definition"]},
        "results": {"bindings": [_binding(r) for r in rows]},
    }


_LIMIT = re.compile(r"LIMIT (\d+)")
_OFFSET = re.compile(r"OFFSET (\d+)")


class PageTransport:
    """A ``query_text -> SPARQL JSON`` callable over pre-built pages.

    Every page's JSON is built once, up front, so a fetch costs a dict
    lookup: the time billed to the source layer is the library's own
    query building, retry wrapper and parsing, not the fake.  Serves
    the member-count query and LIMIT/OFFSET page queries whose limit is
    the page size it was built with."""

    def __init__(self, coll: Collection, page_size: int):
        self.page_size = page_size
        self.n_members = len(coll.concepts)
        self.pages = [
            results(coll.rows[i : i + page_size])
            for i in range(0, len(coll.rows), page_size)
        ]

    def __call__(self, query_text: str) -> dict:
        if "COUNT(DISTINCT ?concept)" in query_text:
            value = {"type": "literal", "value": str(self.n_members)}
            return {"results": {"bindings": [{"count": value}]}}
        limit = int(_LIMIT.search(query_text).group(1))
        offset = int(_OFFSET.search(query_text).group(1))
        if limit != self.page_size or offset % limit:
            raise ValueError(f"unaligned page request LIMIT {limit} OFFSET {offset}")
        k = offset // limit
        return self.pages[k] if k < len(self.pages) else results([])
