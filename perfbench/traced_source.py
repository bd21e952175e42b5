"""The ``sudan`` DataSource with spans around its executor-side calls.

Registered as format ``sudan_traced`` for the traced requests of a
traced run. ``read()`` runs in a Spark Python worker, where the
driver's patches do not reach, so each worker process patches the
fetch and cache layers once, records spans for the partition it
reads under the request id passed as an option, and appends them to
``<perfbench_trace_dir>/spans-<pid>.jsonl`` when the partition ends.
"""

from __future__ import annotations

import os

from duckdb_sudan__spark.providers import http
from duckdb_sudan__spark.providers.cache import ResponseCache
from duckdb_sudan__spark.sources.datasource import SudanDataSource, SudanReader

from perfbench.trace import Tracer

FETCH_FUNCTIONS = ("fetch_worldbank_pages", "fetch_who", "fetch_fao", "fetch_unhcr", "fetch_ilo")


def attach_fetch_layers(tracer: Tracer) -> None:
    """Spans around providers.http.fetch_* and the response cache."""
    for fn in FETCH_FUNCTIONS:
        tracer.patch(http, fn, "http.fetch")
    tracer.patch(ResponseCache, "get", "cache.get")
    tracer.patch(ResponseCache, "put", "cache.put")


_worker_tracer: Tracer | None = None


def _tracer() -> Tracer:
    global _worker_tracer
    if _worker_tracer is None:
        _worker_tracer = Tracer()
        attach_fetch_layers(_worker_tracer)
    return _worker_tracer


class TracedSudanReader(SudanReader):
    def read(self, partition):
        tracer = _tracer()
        with tracer.request(self.options["perfbench_request"]):
            with tracer.span("datasource.read"):
                rows = list(super().read(partition))
        tracer.dump(os.path.join(self.options["perfbench_trace_dir"], f"spans-{os.getpid()}.jsonl"))
        yield from rows


class TracedSudanDataSource(SudanDataSource):
    @classmethod
    def name(cls) -> str:
        return "sudan_traced"

    def reader(self, schema) -> TracedSudanReader:
        return TracedSudanReader(self.options)
