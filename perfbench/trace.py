"""Span recorder for the traced run.

Each layer is one public function of the package, wrapped at the name its
caller looks up: the names imported into ``lshdedup.pipeline`` and
``lshdedup.streaming``, plus ``StageRunner.stage`` and
``StreamingDedup.process_batch``.  A wrapper opens a span — it sets a
Spark job group naming the span and records name, start, end and parent —
and returns the wrapped function's result untouched.  Nothing is
persisted, counted or cached inside a span, so Catalyst plans exactly what
users run; row counts are taken after the run (``count_rows``).
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

import lshdedup.pipeline as pipeline_mod
import lshdedup.streaming as streaming_mod
from lshdedup.checkpoint import StageRunner
from lshdedup.streaming import StreamingDedup

LAYERS = ("exact_dup", "signatures", "bands", "candidates", "verify",
          "cluster", "checkpoint", "streaming", "pipeline")

# (layer, owner, attribute): the lookups the package's callers make
TARGETS = (
    ("exact_dup", pipeline_mod, "exact_dup_groups"),
    ("signatures", pipeline_mod, "add_signatures"),
    ("signatures", streaming_mod, "add_signatures"),
    ("bands", pipeline_mod, "explode_bands"),
    ("bands", streaming_mod, "explode_bands"),
    ("candidates", pipeline_mod, "candidate_pairs"),
    ("candidates", streaming_mod, "candidate_pairs"),
    ("verify", pipeline_mod, "verify_pairs"),
    ("cluster", pipeline_mod, "assign_clusters"),
    ("checkpoint", StageRunner, "stage"),
    ("streaming", StreamingDedup, "process_batch"),
    ("pipeline", pipeline_mod, "dedup_pipeline"),
)

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
GROUP_PREFIX = "perfbench-span-"
ROWS_OUT_GROUP = "perfbench-rows-out"


@dataclass
class Span:
    id: int
    layer: str
    detail: str
    parent: int | None
    start: float = 0.0          # epoch seconds, the event log's clock
    end: float = 0.0
    result: Any = field(default=None, repr=False)
    counts: list[int] = field(default_factory=list)   # rows per output frame

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


def _detail(layer: str, args: tuple) -> str:
    if layer == "checkpoint":
        return str(args[1])                 # StageRunner.stage(self, name, fn)
    if layer == "streaming":
        return f"batch {args[2]}"           # process_batch(self, batch, batch_id)
    return ""


def _frames(out: Any) -> list[DataFrame]:
    """The DataFrames a layer produced: itself, each of a tuple, or a
    DedupResult's clusters."""
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [f for f in out if isinstance(f, DataFrame)]
    clusters = getattr(out, "clusters", None)
    return [clusters] if isinstance(clusters, DataFrame) else []


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.root: Span | None = None
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._originals: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, detail: str = ""):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = Span(len(self.spans), layer, detail, parent.id if parent else None)
        if self.root is None:
            self.root = sp
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(sp.group, f"{layer} {detail}".strip())
        self.spans.append(sp)
        stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            for key, val in zip(_GROUP_KEYS, saved):
                self.sc.setLocalProperty(key, val)
            self.bookkeeping_s += time.perf_counter() - t1

    def install(self) -> None:
        for layer, owner, attr in TARGETS:
            fn = getattr(owner, attr)

            @functools.wraps(fn)
            def wrapper(*args, _fn=fn, _layer=layer, **kwargs):
                with self.span(_layer, _detail(_layer, args)) as sp:
                    sp.result = _fn(*args, **kwargs)
                    return sp.result

            setattr(owner, attr, wrapper)
            self._originals.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()

    def count_rows(self) -> None:
        """Count each span's output after the run, under a job group no
        span owns, then drop the references."""
        self.sc.setJobGroup(ROWS_OUT_GROUP, "rows_out counts")
        try:
            for sp in self.spans:
                frames = _frames(sp.result)
                if frames:
                    sp.counts = [frame.count() for frame in frames]
                sp.result = None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
