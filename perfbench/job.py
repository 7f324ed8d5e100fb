"""spark-submit entry point of the benchmark: one JVM, one or more phases.

    spark-submit --master local[N] --py-files engine.zip perfbench/job.py \\
        --workload NAME --seed S --work DIR \\
        --phase l4:4:0:2:7:2 --phase l1:1:0:1:3:0 --out result.json

A phase is ``label:cores:traced:rounds:seconds:warm``: a SparkContext built
by ``session.get_spark()`` at ``local[cores]`` (sized by the ``SPARK_GRAFT_*``
environment that ``run.py`` sets), one untimed warm-up ``run_crawl`` of
``warm`` rounds (0: the seed commit only), then timed crawls of at most
``rounds`` rounds, each into a fresh ``SnapshotStore``, until the phase has
measured ``seconds`` (at least one crawl).  The context is stopped before
the next phase starts.

All crawls read the same Parquet corpus, which the first phase materialises
(timed) before its warm-up.  The warm-up is the same crawl as the timed ones,
so code generation, JIT compilation, the Parquet read path and the start of
the context's Python workers are all paid before the clock starts; a first
crawl in a fresh context is otherwise about a third slower than the next.

A traced phase (the last one) enables the uncompressed event log; its
warm-up runs before the layer calls are wrapped (``tracing.Tracer``), so its
jobs carry no tag and no span, and the spans are written next to the result.
The JSON result holds raw timings and counts only; ``run.py`` checks the
committed stores and computes the metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import time
from contextlib import nullcontext


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--phase", action="append", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import corpus
    from openreviewcrawler_spark import session
    from openreviewcrawler_spark.plans import crawl as crawl_mod
    from openreviewcrawler_spark.sources.checkpoint import SnapshotStore
    from tracing import Tracer

    w = corpus.WORKLOADS[args.workload]
    cfg = crawl_mod.CrawlConfig(
        max_rounds=w.rounds, default_budget=w.budget, max_depth=w.max_depth
    )
    corpus_dir = os.path.join(args.work, "corpus")
    phases = [p.split(":") for p in args.phase]
    res: dict = {"phases": []}

    def crawl(spark, cfg, store):
        pages, seeds, robots = (
            spark.read.parquet(os.path.join(corpus_dir, name))
            for name in ("pages", "seeds", "robots")
        )
        return crawl_mod.run_crawl(spark, pages, seeds, robots, cfg, store=store)

    for label, cores, traced, rounds, seconds, warm in phases:
        phase_cfg = dataclasses.replace(cfg, max_rounds=int(rounds))
        os.environ["SPARK_GRAFT_CPUS"] = cores
        tracer = None
        conf = {"spark.eventLog.enabled": "false"}
        get_spark = session.get_spark
        if traced == "1":
            tracer = Tracer(f"{args.workload}-{args.seed}-{label}")
            get_spark = tracer.wrap("session.get_spark", session.get_spark, None)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(args.work, "events"),
                "spark.eventLog.compress": "false",
            }
            os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
        ph: dict = {"label": label, "cores": int(cores), "traced": tracer is not None}
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{label}", extra_conf=conf)
        ph["session_start_s"] = time.perf_counter() - t

        if not res["phases"]:
            t = time.perf_counter()
            corpus.materialise(w, args.seed, corpus_dir)
            res["gen_s"] = time.perf_counter() - t
        t = time.perf_counter()
        crawl(spark, dataclasses.replace(cfg, max_rounds=int(warm)),
              SnapshotStore(os.path.join(args.work, "warmup", label)))
        ph["warmup_s"] = time.perf_counter() - t

        store_cls = SnapshotStore
        if tracer is not None:
            tracer.bind(spark)
            tracer.install()
            store_cls = tracer.store_class()

        ph["reps"] = []
        measured = 0.0
        while not ph["reps"] or measured < float(seconds):
            r = len(ph["reps"])
            root = os.path.join(args.work, "stores", f"{label}_{r}")
            span = tracer.span("plans.crawl.run_crawl", rep=r) if tracer else nullcontext()
            start = time.time()
            with span:
                state = crawl(spark, phase_cfg, store_cls(root))
            end = time.time()
            measured += end - start
            ph["reps"].append(
                {"store": root, "start": start, "end": end, "round_counts": state.round_counts}
            )
        spark.stop()
        if tracer is not None:
            tracer.uninstall()
            spans = os.path.join(args.work, f"spans_{label}.json")
            tracer.dump(spans)
            ph["spans"] = spans
        res["phases"].append(ph)

    with open(args.out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
