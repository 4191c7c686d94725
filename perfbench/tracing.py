"""Span tracing for the traced benchmark run, installed from outside the program.

``Tracer.patch`` replaces a module attribute (for example
``lyra_spark.io.write_violations``) with a wrapper that records a span around
each call; ``Tracer.restore`` puts the originals back. Spans are kept in
memory (name, start, end, parent, iteration id) and written out once at the
end. A layer's self time is its span's duration minus the time its child
spans cover.

Lazy results: a wrapped function that returns a DataFrame has that result
persisted and forced (``count``) inside its span, exactly once; callers then
consume the cached rows, so the work of each layer lands in that layer's span
and no later span recomputes it. ``unpersist_all`` drops the caches at the
end of each traced iteration. The tracer's own forcing jobs run under a
separate job group so per-partition job counts exclude them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

FORCE_GROUP = "perfbench-trace-force"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[tuple[int | None, str], float] = {}
        self.iteration: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._persisted: list = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        """Add to a per-iteration counter."""
        key = (self.iteration, name)
        self.counters[key] = self.counters.get(key, 0) + value

    # -- forcing -----------------------------------------------------------
    @contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if prev is not None:
                sc.setJobGroup(prev, prev_desc or prev)

    def force(self, df):
        """Persist and materialize a lazy DataFrame once; return it cached."""
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        with self.job_group(FORCE_GROUP):
            df.count()
        self._persisted.append(df)
        return df

    def force_noop(self, df) -> None:
        """Read every column of ``df`` into the noop sink (a pure scan)."""
        with self.job_group(FORCE_GROUP):
            df.write.mode("overwrite").format("noop").save()

    def unpersist_all(self) -> None:
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted.clear()

    # -- patching ----------------------------------------------------------
    def patch(self, module, attr: str, name: str, force: str | None = None, before=None, after=None) -> None:
        """Wrap ``module.attr`` in a span. ``force``: "persist" forces a
        DataFrame result as described in the module docstring, "noop" scans
        it into the noop sink and returns it unchanged. ``before(args,
        kwargs)`` runs before the span opens (job-group switches) and
        ``after(result, args, kwargs)`` after it closes (counters)."""
        from pyspark.sql import DataFrame

        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    if force == "persist":
                        out = tracer.force(out)
                    elif force == "noop":
                        tracer.force_noop(out)
            if after is not None:
                after(out, args, kwargs)
            return out

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- reporting ---------------------------------------------------------
    def export(self) -> list[dict]:
        """Every span with times relative to the first span and its self time."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "iteration": s["iteration"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": (s["end"] - s["start"]) - child_time.get(s["id"], 0.0),
            }
            for s in self.spans
        ]

    def self_times(self, iteration: int) -> dict[str, float]:
        """Summed self time per span name within one iteration."""
        out: dict[str, float] = {}
        for s in self.export():
            if s["iteration"] == iteration:
                out[s["name"]] = out.get(s["name"], 0.0) + s["self_s"]
        return out

    def counters_for(self, iteration: int) -> dict[str, float]:
        return {name: v for (it, name), v in self.counters.items() if it == iteration}
