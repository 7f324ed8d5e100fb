"""Span recording around the crawl's layer calls, from outside the engine.

``Tracer.install`` patches the ``plans.crawl`` module attributes that
``run_crawl`` looks up at call time (``seeds_to_frontier``, ``run_round``);
``Tracer.store_class`` returns a ``SnapshotStore`` subclass whose public
methods are wrapped; ``Tracer.wrap`` wraps anything else, such as
``session.get_spark``; ``Tracer.uninstall`` restores the module.  Each
wrapped call gets a span (name, start, end, parent, run id) and, while it
runs, a Spark job description equal to its tag, so the event log can be
folded per tag.  Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from openreviewcrawler_spark.plans import crawl as crawl_mod
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._saved: tuple = ()

    def bind(self, spark) -> None:
        """Job descriptions need the SparkContext; spans before this get none."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, tag: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "tag": tag, "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self._sc is not None and tag is not None:
            self._sc.setJobDescription(tag)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None and tag is not None:
                outer = [self.spans[i].get("tag") for i in self._stack]
                self._sc.setJobDescription(next((t for t in reversed(outer) if t), None))

    def wrap(self, name: str, fn, tag: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, tag):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        self._saved = (crawl_mod.seeds_to_frontier, crawl_mod.run_round)
        crawl_mod.seeds_to_frontier = self.wrap(
            "plans.crawl.seeds_to_frontier", crawl_mod.seeds_to_frontier, "seeds_to_frontier"
        )
        crawl_mod.run_round = self.wrap("plans.crawl.run_round", crawl_mod.run_round, "run_round")

    def uninstall(self) -> None:
        crawl_mod.seeds_to_frontier, crawl_mod.run_round = self._saved

    def store_class(self) -> type[SnapshotStore]:
        tracer = self

        class TracedStore(SnapshotStore):
            def stage_append(self, df, table, round_no):
                with tracer.span("sources.checkpoint.stage_append", f"write.{table}",
                                 table=table, round=round_no):
                    return super().stage_append(df, table, round_no)

            def stage_replace(self, df, table, round_no):
                with tracer.span("sources.checkpoint.stage_replace", f"write.{table}",
                                 table=table, round=round_no):
                    return super().stage_replace(df, table, round_no)

            def commit(self, round_no, extra=None):
                with tracer.span("sources.checkpoint.commit", "commit", round=round_no):
                    return super().commit(round_no, extra)

            def read(self, spark, table, round_no=None):
                with tracer.span("sources.checkpoint.read", "read", table=table) as rec:
                    rec["segments"] = len(self._committed_paths(table, round_no))
                    return super().read(spark, table, round_no)

        return TracedStore

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
