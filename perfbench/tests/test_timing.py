"""Outside-in page timing on a stub loader with a fake clock."""

from timing import Spans, tree


class FakeClock:
    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now


def test_page_spans_bill_the_loader_not_the_fetch():
    clock = FakeClock()
    groups = []
    spans = Spans(clock=clock, set_group=groups.append)

    def fetch():
        for k in range(3):
            clock.now += 0.5  # fetching page k
            yield f"page{k}"

    work = {"page0": 2.0, "page1": 3.0, "page2": 7.0}

    def loader(pages):  # a harvest_run-shaped consumer
        for page in pages:
            assert groups[-1] == f"harvest.load|fresh|p{page[-1]}"
            clock.now += work[page]

    loader(spans.timed_pages(fetch(), "harvest.load", "fresh|p"))
    got = {s.name: s.seconds for s in spans.records}
    assert got == {"fresh|p0": 2.0, "fresh|p1": 3.0, "fresh|p2": 7.0}
    assert spans.total("harvest.load") == 12.0


def test_span_records_call_and_sets_group():
    clock = FakeClock()
    groups = []
    spans = Spans(clock=clock, set_group=groups.append)
    with spans.span("io.sqlite_export", "fresh"):
        clock.now += 1.25
    (s,) = spans.of("io.sqlite_export")
    assert (s.group, s.seconds) == ("io.sqlite_export|fresh", 1.25)
    assert groups == ["io.sqlite_export|fresh"]


def test_tree_lists_files_and_sizes(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.parquet").write_bytes(b"12345")
    (tmp_path / "y").write_bytes(b"1")
    assert tree(str(tmp_path)) == {"a/x.parquet": 5, "y": 1}


def test_timed_cycles_reports_medians_of_a_fixed_count():
    from workloads import n_cycles, timed_cycles

    walls = iter([9.0, 7.0, 8.0])

    def cycle():
        wall = next(walls)
        return {"wall_s": wall, "fresh_s": wall / 2}, {}

    assert timed_cycles(cycle, 3) == {"wall_s": 8.0, "fresh_s": 4.0}
    assert n_cycles(24, 8.0) == 3
    assert n_cycles(24, 20.0) == 1
    assert n_cycles(1, 20.0) == 1


def test_steal_share_is_stolen_ticks_over_all_ticks():
    from timing import cpu_jiffies, steal_share

    assert steal_share((10, 1000), (40, 1200)) == 0.15
    assert steal_share((10, 1000), (10, 1000)) == 0.0
    stolen, total = cpu_jiffies()
    assert 0 <= stolen <= total
