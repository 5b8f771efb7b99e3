"""Spans and counts taken from outside the program.

The tracer wraps the public methods the pipeline calls into
(``Pipeline.run_*``, ``Warehouse`` writes, ``IngestLog`` appends) only
while a traced op runs, and restores the originals afterwards, so an
untraced op executes the program's own code unchanged. Spans stay in
memory and are written out once, when the run ends.

Spark jobs and stages are counted as the difference in the scheduler's
next job and stage ids before and after a span. A job group set on the
calling thread would miss the jobs the pipeline's thread pools submit.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.op = 0
        # the sequential span enclosing concurrent writes (a pipeline
        # phase); thread pools do not inherit thread-locals
        self.parent: str | None = None

    def ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block. Job and stage deltas are
        exact only for spans that run alone, such as pipeline phases
        and query steps."""
        j0, s0 = self.ids()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            j1, s1 = self.ids()
            rec = {"op": self.op, "name": name, "parent": self.parent,
                   "start": t0, "end": t1, "jobs": j1 - j0,
                   "stages": s1 - s0, **attrs}
            with self._lock:
                self.spans.append(rec)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: str) -> None:
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    @contextmanager
    def patched(self):
        """Wrap the pipeline's layer boundaries for the duration."""
        from python_etl_pipeline_spark.pipeline import Pipeline
        from python_etl_pipeline_spark.sources import IngestLog, Warehouse

        def phase(name):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(*a, **kw):
                    with self.span(name):
                        prev, self.parent = self.parent, name
                        try:
                            return fn(*a, **kw)
                        finally:
                            self.parent = prev
                return inner
            return wrap

        def write(kind):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(wh, df, layer, table, *a, **kw):
                    with self.span("warehouse.write", layer=layer,
                                   table=table, kind=kind):
                        return fn(wh, df, layer, table, *a, **kw)
                return inner
            return wrap

        targets = [
            (Pipeline, "run_full", phase("pipeline.run_full")),
            (Pipeline, "run_extract", phase("pipeline.extract")),
            (Pipeline, "run_transform", phase("pipeline.transform")),
            (Pipeline, "run_load", phase("pipeline.load")),
            (Warehouse, "overwrite", write("overwrite")),
            (Warehouse, "overwrite_partitions", write("overwrite_partitions")),
            (Warehouse, "append", write("append")),
            (IngestLog, "mark_processed_batch",
             phase("ingest_log.mark_processed_batch")),
        ]
        saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _ in targets]
        for cls, attr, wrap in targets:
            setattr(cls, attr, wrap(cls.__dict__[attr]))
        try:
            yield
        finally:
            for cls, attr, fn in saved:
                setattr(cls, attr, fn)


def parquet_sizes(root: str) -> dict[str, int]:
    """``{path: bytes}`` for every parquet data file under ``root``
    (checksums and markers excluded)."""
    return {
        os.path.join(d, n): os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root) for n in names
        if n.endswith(".parquet")
    }
