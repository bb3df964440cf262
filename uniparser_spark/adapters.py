"""The pluggable fetch-adapter seam.

The reference ships a stack of sync/async HTTP adapters with retry and
encoding handling (reference uniparser/utils.py:218-516, wired into the
parser at parsers.py:1484-1517).  In this engine the default "fetch" is
a join against the pages table (no network in the sandbox, and at
100 TB the pages usually ARE a table) — but a production deployment
needs the same seam the reference exposes: hand the engine an object
that turns request args into page bodies.

Spark-first shape: an :class:`Adapter` is a **picklable** object with a
vectorized ``fetch_batch(requests) -> list[FetchResult]`` method.  The
engine ships it to executors inside a ``mapInPandas`` closure and calls
it once per Arrow batch of scheduled URLs, so a real HTTP adapter can
pipeline/pool its connections per partition instead of paying per-row
setup.  Per-URL failures are DATA (``FetchResult.error``), never task
failures — a dead URL becomes a ``FetchMiss`` record downstream,
matching the engine's error-as-data rule.

With no adapter the engine fetches by joining the pages table (a join
the optimizer can see beats an opaque UDF); ``FakeAdapter`` is the
deterministic in-memory implementation used by tests and a template for
real ones; ``RetryingAdapter`` adds the reference's retry loop
(utils.py:254-276) around any inner adapter.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType


@dataclass
class FetchResult:
    """One fetched page: body text (None on miss/failure), HTTP-ish
    status, and an error string when the fetch itself failed."""

    url: str
    text: Optional[str]
    status: int = 200
    error: Optional[str] = None


class Adapter:
    """Base/protocol for fetch adapters.

    Subclasses implement :meth:`fetch_batch`.  Instances must be
    picklable (they are serialized into the Spark task closure); keep
    sockets/sessions lazily created in ``fetch_batch`` and cached on
    ``self`` so each executor process builds its own.
    """

    def fetch_batch(self, requests: Sequence[dict]) -> List[FetchResult]:
        """requests: [{'method': 'get', 'url': ...}, ...] (the engine's
        request_args shape).  Must return one FetchResult per request,
        in order.  Raise only for process-fatal conditions; per-URL
        failures go in FetchResult.error."""
        raise NotImplementedError


class FakeAdapter(Adapter):
    """Deterministic dict-backed adapter (tests / offline replays).
    Unknown URLs are misses (text=None, status 404)."""

    def __init__(self, bodies: Dict[str, str]):
        self.bodies = dict(bodies)

    def fetch_batch(self, requests: Sequence[dict]) -> List[FetchResult]:
        out = []
        for req in requests:
            url = req["url"]
            if url in self.bodies:
                out.append(FetchResult(url, self.bodies[url], 200))
            else:
                out.append(FetchResult(url, None, 404, None))
        return out


class RetryingAdapter(Adapter):
    """Retry wrapper: re-asks the inner adapter for failed URLs up to
    ``retries`` extra times (reference utils.py:254-276 retry loop)."""

    def __init__(self, inner: Adapter, retries: int = 2):
        self.inner = inner
        self.retries = retries

    def fetch_batch(self, requests: Sequence[dict]) -> List[FetchResult]:
        results = self.inner.fetch_batch(requests)
        for _ in range(self.retries):
            todo = [i for i, r in enumerate(results) if r.error is not None]
            if not todo:
                break
            retried = self.inner.fetch_batch([requests[i] for i in todo])
            for i, r in zip(todo, retried):
                results[i] = r
        return results


def fetch_with_adapter(
    scheduled: DataFrame,
    adapter: Adapter,
    text_col: str = "text",
) -> DataFrame:
    """scheduled(url, ...meta) -> same rows + ``text_col`` via one
    mapInPandas crossing; a failed fetch (``FetchResult.error``) lands
    as a NULL body, i.e. a miss.

    One output row per input row, so frontier metadata rides through
    exactly like the engine's join path.
    """
    out_schema = StructType(
        scheduled.schema.fields + [StructField(text_col, StringType(), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            reqs = [{"method": "get", "url": u} for u in batch["url"]]
            results = adapter.fetch_batch(reqs)
            if len(results) != len(reqs):
                raise RuntimeError(
                    f"adapter {type(adapter).__name__}.fetch_batch returned "
                    f"{len(results)} results for {len(reqs)} requests; the "
                    "Adapter contract is exactly one FetchResult per request"
                )
            out = batch.copy()
            out[text_col] = [r.text for r in results]
            yield out

    return scheduled.mapInPandas(run, schema=out_schema)
