"""Spans, Spark job tags and the event log for the traced run, applied
from outside the library.

While active, the :class:`Tracer` times every call into the public
functions listed in ``LAYER_CALLS`` and tags the Spark jobs started
during the call with ``layer:<layer>``; the benchmark adds its own
``it:<k>`` and ``op:<name>`` tags around iterations and operations.
Spans stay in memory until the run ends. Time is attributed by job
tag, never by splitting a call into "build" and "execute": under AQE,
``checkpoint(eager=False)`` runs jobs while a plan is still being
built.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

# (module, attribute, layer): the public functions whose job tags or
# Python time a reported metric reads (operators.spatial.plan_s and the
# sources.iceberg_lite.* metrics). The library resolves these through
# module attributes at call time (function-local imports,
# ``module.fn(...)``), so replacing the attribute is enough to see every
# call.
LAYER_CALLS = [
    ("hex2vec_spark.operators.spatial", "spatial_join", "operators.spatial"),
    ("hex2vec_spark.sources.iceberg_lite", "run_stage", "sources.iceberg_lite"),
    ("hex2vec_spark.sources.iceberg_lite", "read_stage", "sources.iceberg_lite"),
    ("hex2vec_spark.sources.iceberg_lite", "commit_table", "sources.iceberg_lite"),
    ("hex2vec_spark.sources.iceberg_lite", "read_table", "sources.iceberg_lite"),
]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.active = False  # set per iteration by the runner
        self.spans: list[dict] = []
        self._depth: dict[str, int] = {}
        if enabled:
            for mod_name, attr, layer in LAYER_CALLS:
                mod = importlib.import_module(mod_name)
                setattr(mod, attr, self._wrap(getattr(mod, attr), layer))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(f"layer:{layer}", fn.__name__):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def span(self, tag: str, name: str = ""):
        """Tag the Spark jobs started inside the block and record its
        Python wall time. Nested spans with the same tag keep the tag
        until the outermost one ends, which alone is recorded."""
        if not self.active:
            yield
            return
        depth = self._depth.get(tag, 0)
        if depth == 0:
            self.spark.addTag(tag)
        self._depth[tag] = depth + 1
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._depth[tag] -= 1
            if self._depth[tag] == 0:
                self.spark.removeTag(tag)
                self.spans.append({"tag": tag, "name": name, "start": t0, "end": t1})

    def spans_of(self, tag: str, t0: float, t1: float) -> list[dict]:
        """Recorded spans of ``tag`` that lie within [t0, t1]."""
        return [s for s in self.spans if s["tag"] == tag and t0 <= s["start"] and s["end"] <= t1]


class EventLog:
    """Spark's own event-log writer, attached to the running context for
    the duration of the block (``spark.eventLog.enabled`` would have to
    be set at session start, which would slow the untraced iterations
    the traced ones are compared with). Each block writes its own log,
    named ``<app id>-<name>``, under ``log_dir``. Uncompressed: Spark 4
    defaults to zstd, which the stdlib cannot read."""

    def __init__(self, spark, log_dir: str, name: str):
        self.sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        conf = (
            self.sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.dir", "file://" + log_dir)
        )
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{self.sc.applicationId()}-{name}", jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), conf, self.sc.hadoopConfiguration(),
        )

    def __enter__(self):
        self.listener.start()
        self.sc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc):
        self.sc.listenerBus().waitUntilEmpty()  # deliver queued events first
        self.sc.removeSparkListener(self.listener)
        self.listener.stop()
