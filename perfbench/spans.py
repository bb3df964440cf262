"""In-memory spans for the traced run.

A span is one timed call into a layer: ``name``, ``start``, ``end`` and
the id of the span that was open when it began (its parent).  Spans are
kept in a list and written out once, when the run ends.  A span's self
time is its duration minus the time its child spans cover; the
benchmark is single-threaded on the driver, so children never overlap.

``NullTracer`` has the same interface and records nothing: untraced runs
go through the same code path at no cost.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    # ------------------------------------------------------------ queries
    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str, within: Optional[dict] = None) -> List[dict]:
        """Spans called ``name``; with ``within``, only its descendants."""
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if self.is_descendant(s, within["id"])]
        return out

    def is_descendant(self, rec: dict, ancestor_id: int) -> bool:
        parent = rec["parent"]
        while parent is not None:
            if parent == ancestor_id:
                return True
            parent = self.spans[parent]["parent"]
        return False

    def total(self, name: str, within: Optional[dict] = None) -> float:
        return sum(self.duration(s) for s in self.named(name, within))

    def self_total(self, name: str, within: Optional[dict] = None) -> float:
        """Summed self time of the spans :meth:`named` selects."""
        covered: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + self.duration(s)
        return sum(
            self.duration(s) - covered.get(s["id"], 0.0) for s in self.named(name, within)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        yield {}


@contextmanager
def patched(obj, attr: str, wrapper_factory) -> Iterator[None]:
    """Replace ``obj.attr`` by ``wrapper_factory(original)`` for the
    duration of the block (the benchmark process only: Spark's Python
    workers import their own copies)."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(original))
    try:
        yield
    finally:
        setattr(obj, attr, original)


def spanned(tracer: Tracer, name: str):
    """Wrapper factory for :func:`patched`: a span around every call."""

    def factory(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    return factory


def state_kind(path) -> str:
    """``.../records/r3`` -> ``records`` (the crawl state dir a write targets)."""
    return os.path.basename(os.path.dirname(str(path).rstrip("/")))


@contextmanager
def traced_parquet_writes(tracer: Tracer) -> Iterator[None]:
    """A ``sink.<kind>`` span around every ``DataFrameWriter.parquet``
    call, ``kind`` being the state dir it writes (records, seen,
    frontier)."""
    from pyspark.sql.readwriter import DataFrameWriter

    def factory(fn):
        def parquet(self, path, *args, **kwargs):
            with tracer.span(f"sink.{state_kind(path)}", path=str(path)):
                return fn(self, path, *args, **kwargs)

        return parquet

    with patched(DataFrameWriter, "parquet", factory):
        yield


class JobCounter:
    """Counts Spark jobs per job group through ``statusTracker()``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: List[str] = []

    @contextmanager
    def group(self, name: str) -> Iterator[None]:
        self.groups.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self) -> Dict[str, int]:
        tracker = self.sc.statusTracker()
        return {g: len(tracker.getJobIdsForGroup(g)) for g in self.groups}
