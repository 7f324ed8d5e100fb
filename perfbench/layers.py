"""Per-layer metrics of a traced run, folded from Spark's event log and the
spans that ``tracing.Tracer`` recorded around the layer calls.

Jobs are grouped by their job description, which the tracer sets to the tag
of the wrapped call (``run_round``, ``write.<table>``, ``read``).  Inside one
tag, plan nodes of the executed SQL plans are mapped to layers:

* ``operators.seen``: the left-anti join on ``url`` in the ``run_round`` action;
* ``operators.robots``: the left-outer join on ``host`` in that action;
* ``operators.scheduler``: the ``row_number`` window partitioned by ``host``
  and the ``host`` exchange below it;
* ``operators.ordering``: the ``fetch_seq`` stamp: a global window (the
  ``window`` path), a window over ``__bkt`` (``bucketed``) or a range
  exchange (``range``);
* ``functions.htmltext``: the ``MapInPandas`` that produces ``extracted_text``;
* ``functions.urls``: the ``ArrowEvalPython`` of ``canonicalize_series``.

A node belongs to the stages in which its own SQL metrics, or the
``duration`` of the whole-stage-codegen pipeline around it, were updated by a
task; a layer's ``task_s`` is the executor run time of those stages (a stage
shared by two layers counts for both).  Row counts and ratios come from the
committed stores and the crawl's own round counts, so they are exact.  All
values are per crawl (sums divided by the number of traced crawls).  Only
jobs and executions that start inside a timed crawl count, so the phase's
untimed warm-up crawl does not.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

import pyarrow.compute as pc
import pyarrow.parquet as pq

TAGS = ("run_round", "write.frontier", "write.fetched", "write.seen", "write.metrics", "read")
TABLES = ("frontier", "fetched", "seen", "metrics")
_STAGE_BOUNDARY = ("Exchange", "QueryStage", "InMemoryTableScan")
PYTHON_RUN = "time to run Python workers"

UNITS = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.crawl.wall_s": "s",
    "plans.crawl.run_round_s": "s",
    "plans.crawl.driver_only_s": "s",
    "plans.crawl.jobs_per_round": "count",
    "plans.crawl.accounted_frac": "ratio",
    "trace.overhead_s": "s",
    "operators.seen.rows_in": "count",
    "operators.seen.rows_out": "count",
    "operators.seen.task_s": "s",
    "operators.seen.shuffle_bytes": "B",
    "operators.robots.task_s": "s",
    "operators.robots.denied_frac": "ratio",
    "operators.scheduler.task_s": "s",
    "operators.scheduler.shuffle_bytes": "B",
    "operators.scheduler.task_skew": "ratio",
    "operators.scheduler.admit_frac": "ratio",
    "operators.ordering.task_s": "s",
    "operators.ordering.task_skew": "ratio",
    "operators.ordering.rounds_window": "count",
    "operators.ordering.rounds_bucketed": "count",
    "operators.ordering.rounds_range": "count",
    "functions.htmltext.python_s": "s",
    "functions.htmltext.pages": "count",
    "functions.htmltext.html_bytes": "B",
    "functions.urls.python_s": "s",
    "functions.urls.outlinks_in": "count",
    "functions.urls.new_frontier_frac": "ratio",
    **{f"sources.checkpoint.write_s.{t}": "s" for t in TABLES},
    **{f"sources.checkpoint.bytes_written.{t}": "B" for t in TABLES},
    "sources.checkpoint.commit_s": "s",
    "sources.checkpoint.read_s": "s",
    "sources.checkpoint.segments_read": "count",
    **{
        f"spark.{tag}.{m}": u
        for tag in TAGS
        for m, u in (
            ("wall_s", "s"), ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("python_s", "s"),
            ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("task_skew", "ratio"),
            ("task_retries", "count"),
        )
    },
}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _skew(durations: list[float]) -> float:
    med = statistics.median(durations) if durations else 0
    return max(durations) / med if med > 0 else 1.0


class EventLog:
    """The parts of one application's event log that the fold needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tag: dict[int, str | None] = {}
        self.stage_start: dict[int, float] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.exec_tag: dict[int, str | None] = {}
        self.exec_start: dict[int, float] = {}
        self.acc: dict[int, float] = defaultdict(float)  # SQL metric id -> total update
        self.acc_stages: dict[int, set[int]] = defaultdict(set)
        with open(path) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get("spark.job.description")
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3, "tag": tag}
            ex = props.get("spark.sql.execution.id")
            if ex is not None and tag:
                self.exec_tag[int(ex)] = tag
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            info = e["Stage Info"]
            self.stage_tag[info["Stage ID"]] = props.get("spark.job.description")
            if "Submission Time" in info:
                self.stage_start[info["Stage ID"]] = info["Submission Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            stage = e["Stage ID"]
            ok = e["Task End Reason"]["Reason"] == "Success"
            self.tasks[stage].append({
                "ok": ok,
                "retry": info["Attempt"] > 0 or not ok,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "python_s": 0.0,
            })
            if ok:
                for a in info.get("Accumulables", []):
                    # SQL metrics: the event log writes their updates as strings
                    if a.get("Metadata") != "sql":
                        continue
                    update = float(a["Update"])
                    self.acc[a["ID"]] += update
                    self.acc_stages[a["ID"]].add(stage)
                    if a["Name"] == PYTHON_RUN:
                        self.tasks[stage][-1]["python_s"] += update / 1e3
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                self.exec_start[e["executionId"]] = e["time"] / 1e3
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.acc[acc_id] += value

    def nodes(self, windows: list[tuple[float, float]], tag: str | None = None):
        """(node, wscg_duration_id) for every plan node of the executions
        that started inside one of ``windows`` (the timed crawls) and carry
        ``tag`` (any or none when None), over every plan version."""
        for ex, plans in self.plans.items():
            if tag is not None and self.exec_tag.get(ex) != tag:
                continue
            start = self.exec_start.get(ex, float("nan"))
            if not any(lo <= start <= hi for lo, hi in windows):
                continue
            for plan in plans:
                yield from self._walk(plan, None)

    def _walk(self, node: dict, wscg: int | None):
        name = node["nodeName"]
        if name.startswith("WholeStageCodegen"):
            wscg = next((m["accumulatorId"] for m in node["metrics"] if m["name"] == "duration"), None)
        elif any(b in name for b in _STAGE_BOUNDARY):
            wscg = None
        yield node, wscg
        for child in node["children"]:
            yield from self._walk(child, wscg)

    def stages_of(self, node: dict, wscg: int | None) -> set[int]:
        ids = [m["accumulatorId"] for m in node["metrics"]] + ([wscg] if wscg else [])
        return set().union(*(self.acc_stages.get(i, set()) for i in ids))


def _exchanges_below(node: dict, prefix: str) -> list[dict]:
    """Exchanges that feed ``node`` directly (through sorts and stage reads)."""
    out = []
    for child in node["children"]:
        name = child["nodeName"]
        if "Exchange" in name and child["simpleString"].startswith(prefix):
            out.append(child)
        elif "Join" not in name and "Window" not in name:
            out.extend(_exchanges_below(child, prefix))
    return out


class _Layer:
    def __init__(self) -> None:
        self.stages: set[int] = set()
        self.nodes: list[dict] = []

    def add(self, log: EventLog, node: dict, wscg: int | None) -> None:
        self.stages |= log.stages_of(node, wscg)
        self.nodes.append(node)

    def metric(self, log: EventLog, name: str) -> float:
        # a set: plan versions of one execution repeat a node's metric ids
        ids = {m["accumulatorId"] for n in self.nodes for m in n["metrics"] if m["name"] == name}
        return sum(log.acc.get(i, 0) for i in ids)

    def task_s(self, log: EventLog) -> float:
        return sum(t["run_s"] for s in self.stages for t in log.tasks[s] if t["ok"])

    def skew(self, log: EventLog) -> float:
        return max(
            (_skew([t["run_s"] for t in log.tasks[s] if t["ok"]]) for s in self.stages), default=1.0
        )


def _classify(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, _Layer]:
    layers: dict[str, _Layer] = defaultdict(_Layer)
    for node, wscg in log.nodes(windows, "run_round"):
        s, name = node["simpleString"], node["nodeName"]
        if "Join" in name and "LeftAnti" in s and s.split("[", 1)[1].startswith("url#"):
            layers["seen"].add(log, node, wscg)
            for ex in _exchanges_below(node, "Exchange hashpartitioning(url#"):
                layers["seen.exchange"].add(log, ex, None)
        elif name == "BroadcastHashJoin" and "LeftOuter" in s and "[host#" in s:
            layers["robots"].add(log, node, wscg)
        elif name == "Window" and "windowspecdefinition(host#" in s:
            layers["scheduler"].add(log, node, wscg)
            for ex in _exchanges_below(node, "Exchange hashpartitioning(host#"):
                layers["scheduler.exchange"].add(log, ex, None)
    for node, wscg in log.nodes(windows):
        s, name = node["simpleString"], node["nodeName"]
        if name == "Window" and "windowspecdefinition(seed_index#" in s:
            layers["ordering.window"].add(log, node, wscg)
        elif name == "Window" and "windowspecdefinition(__bkt#" in s:
            layers["ordering.bucketed"].add(log, node, wscg)
        elif "rangepartitioning(seed_index#" in s or (name == "MapInPandas" and "__pid" in s):
            layers["ordering.range"].add(log, node, wscg)
        elif name == "MapInPandas" and "extracted_text" in s:
            layers["htmltext"].add(log, node, wscg)
        elif name == "ArrowEvalPython" and "canonicalize_series(" in s:
            layers["urls"].add(log, node, wscg)
        elif name == "Generate" and s.startswith("Generate explode(outlinks#"):
            layers["urls.generate"].add(log, node, wscg)
    return layers


def _frontier_facts(store: str, rounds: int) -> tuple[int, int]:
    """(frontier rows scanned by the rounds, URLs first added by a round)."""
    rows_in = new = 0
    for r in range(rounds + 1):
        path = os.path.join(store, "frontier", f"r{r:05d}")
        t = pq.read_table(path, columns=["round_added"])
        if r < rounds:
            rows_in += t.num_rows
        if r > 0:
            new += pc.sum(pc.equal(t.column("round_added"), r)).as_py() or 0
    return rows_in, new


def per_layer(job: dict, checks: dict, work: str, peak_rss_mb: float) -> tuple[dict, dict, dict]:
    """Per-layer metric values, their units, and the full table written
    next to the spans.  ``peak_rss_mb`` is the process tree's peak memory,
    which ``run.py`` samples."""
    plain, traced = job["phases"]
    with open(traced["spans"]) as fh:
        spans = json.load(fh)
    (log_path,) = glob.glob(os.path.join(work, "events", "*", "events_*"))
    log = EventLog(log_path)
    reps = traced["reps"]
    n = len(reps)

    crawls = [s for s in spans if s["name"] == "plans.crawl.run_crawl"]
    windows = [(c["start"], c["end"]) for c in crawls]

    def in_crawl(a: float, b: float) -> bool:
        return any(lo <= a and b <= hi for lo, hi in windows)

    jobs = [j for j in log.jobs.values() if "end" in j and in_crawl(j["start"], j["end"])]
    by_tag: dict[str | None, list[dict]] = defaultdict(list)
    for j in jobs:
        by_tag[j["tag"]].append(j)
    stages_by_tag: dict[str, set[int]] = defaultdict(set)
    for stage, tag in log.stage_tag.items():
        stages_by_tag[tag].add(stage)

    v: dict[str, float] = {"peak_rss_mb": peak_rss_mb}
    crawl_wall = sum(b - a for a, b in windows)
    job_union = _union_s([(j["start"], j["end"]) for j in jobs])
    rounds_run = sum(len(r["round_counts"]) for r in reps)
    v["session.start_s"] = plain["session_start_s"]
    v["plans.crawl.wall_s"] = crawl_wall / n
    v["plans.crawl.run_round_s"] = statistics.median(
        s["end"] - s["start"] for s in spans if s["name"] == "plans.crawl.run_round"
    )
    v["plans.crawl.driver_only_s"] = (crawl_wall - job_union) / n
    v["plans.crawl.jobs_per_round"] = len(jobs) / max(rounds_run, 1)
    for tag in TAGS:
        tasks = [t for s in stages_by_tag[tag] for t in log.tasks[s]]
        ok = [t for t in tasks if t["ok"]]
        p = f"spark.{tag}."
        v[p + "wall_s"] = _union_s([(j["start"], j["end"]) for j in by_tag[tag]]) / n
        for k in ("run_s", "cpu_s", "gc_s", "python_s", "shuffle_write_bytes", "spill_bytes"):
            v[p + k] = sum(t[k] for t in ok) / n
        heaviest = max(stages_by_tag[tag], default=None,
                       key=lambda s: sum(t["run_s"] for t in log.tasks[s]))
        v[p + "task_skew"] = (
            _skew([t["run_s"] for t in log.tasks[heaviest] if t["ok"]]) if heaviest is not None else 1.0
        )
        v[p + "task_retries"] = sum(t["retry"] for t in tasks) / n
    tagged = sum(v[f"spark.{tag}.wall_s"] for tag in TAGS) * n
    v["plans.crawl.accounted_frac"] = (tagged + crawl_wall - job_union) / crawl_wall
    v["trace.overhead_s"] = crawl_wall / n - statistics.median(
        r["end"] - r["start"] for r in plain["reps"]
    )

    layers = _classify(log, windows)
    counts = [c for r in reps for c in r["round_counts"]]
    n_cand = sum(c["n_candidates"] for c in counts)
    n_denied = sum(c["n_denied"] for c in counts)
    n_admitted = sum(c["n_admitted"] for c in counts)
    rows_in = new = 0
    for r in reps:
        a, b = _frontier_facts(r["store"], len(r["round_counts"]))
        rows_in, new = rows_in + a, new + b
    v["operators.seen.rows_in"] = rows_in / n
    v["operators.seen.rows_out"] = n_cand / n
    v["operators.seen.task_s"] = layers["seen"].task_s(log) / n
    v["operators.seen.shuffle_bytes"] = layers["seen.exchange"].metric(
        log, "shuffle bytes written") / n
    v["operators.robots.task_s"] = layers["robots"].task_s(log) / n
    v["operators.robots.denied_frac"] = n_denied / max(n_cand, 1)
    v["operators.scheduler.task_s"] = layers["scheduler"].task_s(log) / n
    v["operators.scheduler.shuffle_bytes"] = layers["scheduler.exchange"].metric(
        log, "shuffle bytes written") / n
    v["operators.scheduler.task_skew"] = layers["scheduler"].skew(log)
    v["operators.scheduler.admit_frac"] = n_admitted / max(n_cand - n_denied, 1)
    # round r spans from the commit of round r-1 to its own commit
    commits = sorted(s["end"] for s in spans if s["name"] == "sources.checkpoint.commit")
    ordering = _Layer()
    for path in ("window", "bucketed", "range"):
        lay = layers[f"ordering.{path}"]
        ordering.stages |= lay.stages
        ran = {
            sum(1 for c in commits if c < log.stage_start[s])
            for s in lay.stages
            if s in log.stage_start
        }
        v[f"operators.ordering.rounds_{path}"] = len(ran) / n
    v["operators.ordering.task_s"] = ordering.task_s(log) / n
    v["operators.ordering.task_skew"] = ordering.skew(log)
    v["functions.htmltext.python_s"] = layers["htmltext"].metric(log, PYTHON_RUN) / 1e3 / n
    v["functions.htmltext.pages"] = layers["htmltext"].metric(log, "number of output rows") / n
    v["functions.htmltext.html_bytes"] = _html_bytes(work, checks, reps) / n
    v["functions.urls.python_s"] = layers["urls"].metric(log, PYTHON_RUN) / 1e3 / n
    outlinks = layers["urls.generate"].metric(log, "number of output rows")
    v["functions.urls.outlinks_in"] = outlinks / n
    v["functions.urls.new_frontier_frac"] = new / max(outlinks, 1)

    for t in TABLES:
        v[f"sources.checkpoint.write_s.{t}"] = sum(
            s["end"] - s["start"] for s in spans if s.get("table") == t and s["name"].startswith(
                "sources.checkpoint.stage_")
        ) / n
        v[f"sources.checkpoint.bytes_written.{t}"] = sum(
            os.path.getsize(os.path.join(d, f))
            for r in reps for d, _, fs in os.walk(os.path.join(r["store"], t)) for f in fs
        ) / n
    v["sources.checkpoint.commit_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "sources.checkpoint.commit") / n
    reads = [s for s in spans if s["name"] == "sources.checkpoint.read"]
    v["sources.checkpoint.read_s"] = sum(s["end"] - s["start"] for s in reads) / n
    v["sources.checkpoint.segments_read"] = sum(s["segments"] for s in reads) / n

    table = {
        "spans": spans,
        "per_layer": {k: {"value": v[k], "unit": UNITS[k]} for k in UNITS},
        "untagged_jobs": len(by_tag.get(None, [])),
    }
    return {k: v[k] for k in UNITS}, UNITS, table


def _html_bytes(work: str, checks: dict, reps: list[dict]) -> float:
    t = pq.read_table(os.path.join(work, "corpus", "pages"), columns=["url", "html"])
    size = dict(zip(t.column("url").to_pylist(), pc.binary_length(t.column("html")).to_pylist()))
    return sum(size.get(u, 0) for r in reps for _, u, _, _ in checks[r["store"]].fetched)
