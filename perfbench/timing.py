"""Outside-in timing: spans around calls into the program's layers.

Everything here observes the program from the benchmark's side of its
public functions: a span is the wall interval of one call, tagged with
the Spark job group the call's jobs run under, so the event-log parser
can attribute jobs, stages and tasks to it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Span:
    layer: str
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float

    @property
    def group(self) -> str:
        return f"{self.layer}|{self.name}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    """In-memory span record.  ``set_group`` (the Spark context's
    ``setJobGroup``) is called on entry to each span when given; an
    untraced run passes none and only records times."""

    clock: Callable[[], float] = time.time
    set_group: Callable[[str], None] | None = None
    records: list[Span] = field(default_factory=list)

    def tag(self, layer: str, name: str) -> None:
        if self.set_group is not None:
            self.set_group(f"{layer}|{name}")

    @contextmanager
    def span(self, layer: str, name: str):
        self.tag(layer, name)
        start = self.clock()
        try:
            yield
        finally:
            self.records.append(Span(layer, name, start, self.clock()))

    def timed_pages(self, pages: Iterable, layer: str, prefix: str) -> Iterator:
        """Yield ``pages`` unchanged, recording one span per page.

        A loader that pulls pages from an iterator does page k's work
        between receiving page k and asking for page k+1, so the span
        runs from the yield of page k to the next resume.  Producing a
        page (fetching it) happens before the yield and is not billed
        to the loader.  The page's job group is set just before the
        yield, after the producer's own jobs."""
        for k, page in enumerate(pages):
            self.tag(layer, f"{prefix}{k}")
            start = self.clock()
            yield page
            self.records.append(Span(layer, f"{prefix}{k}", start, self.clock()))

    def of(self, layer: str, prefix: str = "") -> list[Span]:
        return [
            s for s in self.records if s.layer == layer and s.name.startswith(prefix)
        ]

    def total(self, layer: str, prefix: str = "") -> float:
        return sum(s.seconds for s in self.of(layer, prefix))


def tree(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except FileNotFoundError:  # removed while walking
                continue
    return out


def tree_bytes(path: str) -> int:
    return sum(tree(path).values())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of this process plus its Java
    children (the Spark driver JVM), in MiB."""
    pid = pid or os.getpid()
    kb = _status_kb(pid, "VmHWM")
    for child in children(pid):
        try:
            with open(f"/proc/{child}/comm", encoding="ascii") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            kb += _status_kb(child, "VmHWM")
    return kb / 1024.0


def load_avg_1m() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole machine so far, in clock
    ticks, from the ``cpu`` line of /proc/stat.  Stolen time is time a
    virtual CPU was runnable but the hypervisor ran something else."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user time
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0
