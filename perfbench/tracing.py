"""In-memory tracing for the traced benchmark run.

Spans are recorded around the benchmark's calls into the program and
around module functions wrapped from outside (``wrap``). Each span has
a name, a layer, start and end, its parent span and the run id; spans
stay in a list and are written out once, when the run ends. Spark
stage counters come from ``metrics.run_with_metrics`` and streaming
progress from a ``StreamingQueryListener`` registered on the session.
Time spent in the tracer's own bookkeeping is summed in ``overhead_s``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PKG = "etl_npl_pipeline_spark"


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.progress: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        c0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - c0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, module, names: list[str], layer: str) -> None:
        """Record a span at every call of ``module.<name>``, also where
        another program module imported the function by name."""
        for name in names:
            orig = getattr(module, name)
            span_name = f"{module.__name__.removeprefix(PKG + '.')}.{name}"

            @functools.wraps(orig)
            def traced(*a, __orig=orig, __name=span_name, **kw):
                with self.span(__name, layer):
                    return __orig(*a, **kw)

            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PKG)
                        and getattr(mod, name, None) is orig):
                    setattr(mod, name, traced)

    def listen(self, spark) -> None:
        """Collect streaming progress through a listener on ``spark``."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def root(self, span: dict) -> dict:
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
        return span

    def self_time(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        direct children cover (children never overlap on the driver)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = s["end"] - s["start"] - child[s["id"]]
                out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "progress": self.progress}, fh)
