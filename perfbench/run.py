"""Crawl benchmark: a committed multi-round ``run_crawl`` per run.

    python3 perfbench/run.py --workload uniform-frontier --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. sizes the Spark session for this host (local[N] with N half the cores
   of the CPU affinity mask, driver heap from ``/proc/meminfo``) through
   the ``SPARK_GRAFT_*`` environment that ``session.get_spark`` reads, and
   records CPU steal, load and a CPU speed probe next to the result;
2. launches ``perfbench/job.py`` through ``spark-submit --py-files`` in one
   JVM: the corpus materialised as Parquet, then two phases, each a fresh
   SparkContext that runs one untimed warm-up crawl and then times
   ``run_crawl`` into fresh ``SnapshotStore``s under ``.perfbench/`` in the
   checkout;
3. checks every committed store (``checks.py``) and compares one with
   ``oracle.crawl_oracle`` run over the same corpus;
4. prints every metric by name with its unit; the last line of stdout is
   one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` crawls at local[N] for ``MAIN_SHARE`` of ``--seconds``, then
at local[1] for the rest, every round at both levels and with the same
shuffle partition count, and reports the end-to-end metrics.
``--trace 1`` runs it at local[N] untraced, then traced (layer calls wrapped,
Spark event log on), and reports the per-layer metrics (``layers.py``) plus
the tracing overhead; spans and the per-layer table are written to
``.perfbench/trace-<workload>-<seed>.json``.

The exit code is 0 only when every output check passed.  Outside a checkout
of the engine the run stops with code 2 before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "openreviewcrawler_spark"
DEADLINE_S = 170.0  # the whole run, checks included
MAIN_SHARE = 2 / 3  # of --seconds, for the first phase (local[N], every round)

END_TO_END = {
    "setup_s": "s",
    "fetched_urls_per_s": "1/s",
    "round_s_p50": "s",
    "round_s_max": "s",
    "scaling_efficiency": "ratio",
    "store_bytes_per_fetched_url": "B",
    "verified_frac": "ratio",
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spark_submit() -> str:
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "bin", "spark-submit")] if home else []
    cands.append(shutil.which("spark-submit") or "")
    for c in cands:
        if c and os.access(c, os.X_OK):
            return c
    _die("spark-submit not found (set SPARK_HOME)")
    return ""


def _meminfo() -> dict[str, int]:
    with open("/proc/meminfo") as fh:
        return {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in fh)}


def host_sizing() -> dict:
    """Cores and driver heap for this host.  The crawl runs at local[N] with
    N half the usable cores: each task of a Python UDF keeps a JVM thread
    and a Python worker busy, and the driver's JVM and Python process run
    between and beside the tasks, so local[N] at N = all cores
    oversubscribes them and a core taken away by the host stalls the round
    on a straggler.  The heap is 8% of MemTotal, clamped to 1-4 GiB: the
    crawl needs little, and the rest of the memory stays free for the Python
    workers, the page cache that the Parquet stores live in, and other
    tenants."""
    mem = _meminfo()
    total_mb = mem["MemTotal"] // 1024
    driver_mb = max(1024, min(4096, total_mb * 8 // 100 // 256 * 256))
    if mem["MemAvailable"] // 1024 < driver_mb + 1024:
        _die(f"{mem['MemAvailable'] // 1024} MB available, need {driver_mb + 1024} MB")
    usable = len(os.sched_getaffinity(0))
    return {"usable_cores": usable, "cores": max(1, usable // 2), "driver_mb": driver_mb,
            "mem_total_mb": total_mb}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_noise(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return {"steal_frac": d[7] / max(sum(d), 1), "loadavg_1m": load}


def cpu_probe_s() -> float:
    """Median time of a fixed single-threaded Python loop: how fast this
    host's cores are right now, for comparing runs made at different times."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class RssSampler(threading.Thread):
    """Peak memory of a process tree (the driver JVM, the Python driver and
    the Python workers): the largest sum, over the processes alive at one
    sample, of the kernel's record of each process's peak RSS (VmHWM).  The
    per-process peaks come from the kernel, so spikes between samples count."""

    def __init__(self, pid: int, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_kb = 0
        self._halt = threading.Event()

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            try:
                with open(f"/proc/{p}/status") as fh:
                    total += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def run_job(args, sizing: dict, work: str, phases: list[str], timeout_s: float) -> tuple[dict | None, dict]:
    engine_zip = os.path.join(work, "engine.zip")
    with zipfile.ZipFile(engine_zip, "w", zipfile.ZIP_STORED) as zf:
        for d, _, files in os.walk(os.path.join(ROOT, PKG)):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    n = sizing["cores"]
    env = dict(
        os.environ,
        SPARK_GRAFT_SHUFFLE=str(n),
        SPARK_GRAFT_DRIVER_MEM=f"{sizing['driver_mb']}m",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
        TMPDIR=tmp,
        # the JVM that spark-submit starts to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    out = os.path.join(work, "job.json")
    cmd = [
        _spark_submit(), "--master", f"local[{n}]",
        "--driver-memory", f"{sizing['driver_mb']}m",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.enabled=false",
        "--py-files", engine_zip,
        os.path.join(HERE, "job.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--work", work,
        "--out", out,
    ]
    for p in phases:
        cmd += ["--phase", p]
    probe = cpu_probe_s()
    cpu0 = _cpu_times()
    with open(os.path.join(work, "job.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            print(f"perfbench: job exceeded {timeout_s:.0f} s, killed", file=sys.stderr)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            sampler.stop()
            t = time.monotonic()
            while _group_alive(proc.pid) and time.monotonic() - t < 10:
                time.sleep(0.1)
    noise = host_noise(cpu0, _cpu_times())
    noise["cpu_probe_s"] = probe
    noise["peak_rss_mb"] = sampler.peak_kb / 1024
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "job.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None, noise
    with open(out) as fh:
        return json.load(fh), noise


def commit_times(rep: dict) -> list[float]:
    """Commit time of each round, from the snapshot manifests (round 0 is
    the seed commit)."""
    store = rep["store"]
    names = sorted(f for f in os.listdir(store) if f.startswith("_manifest_r"))
    return [os.stat(os.path.join(store, f)).st_mtime_ns / 1e9 for f in names]


def round_walls(rep: dict) -> list[float]:
    """Walls of the scheduling rounds 1.. (commit to commit)."""
    ts = commit_times(rep)
    return [b - a for a, b in zip(ts, ts[1:])]


def urls_per_s(rep: dict, check) -> float:
    """Committed fetched rows per second, from the call of ``run_crawl`` to
    its last commit."""
    return len(check.fetched) / (commit_times(rep)[-1] - rep["start"])


def end_to_end(job: dict, checks: dict, cores: int) -> dict:
    hi, lo = job["phases"]

    def med(ph: dict) -> float:
        return statistics.median(urls_per_s(r, checks[r["store"]]) for r in ph["reps"])

    walls = [round_walls(r) for r in hi["reps"]]
    ref = hi["reps"][0]["store"]
    attempted = sum(len(c.fetched) for c in checks.values())
    failed = sum(len(c.failed) for c in checks.values())
    from checks import store_bytes

    return {
        "setup_s": job["gen_s"] + sum(p["session_start_s"] + p["warmup_s"] for p in job["phases"]),
        "fetched_urls_per_s": med(hi),
        "round_s_p50": statistics.median(w for ws in walls for w in ws),
        "round_s_max": statistics.median(max(ws) for ws in walls),
        "scaling_efficiency": med(hi) / (cores * med(lo)),
        "store_bytes_per_fetched_url": store_bytes(ref) / len(checks[ref].fetched),
        "verified_frac": 1.0 - failed / max(attempted, 1),
    }


def check_all(job: dict, work: str, workload) -> dict:
    from checks import Corpus, StoreCheck
    from openreviewcrawler_spark.oracle.crawl_oracle import crawl_oracle
    from openreviewcrawler_spark.plans.crawl import CrawlConfig

    cfg = CrawlConfig(max_rounds=workload.rounds, default_budget=workload.budget,
                      max_depth=workload.max_depth)
    corpus = Corpus(os.path.join(work, "corpus"))
    out: dict = {}
    for ph in job["phases"]:
        for rep in ph["reps"]:
            out[rep["store"]] = StoreCheck(rep["store"], corpus, cfg.default_budget, cfg.round_seconds)
    # the reference is a crawl of all the workload's rounds
    ref_store = max(out, key=lambda s: len(out[s].fetched))
    ref = out[ref_store]
    for store, chk in out.items():
        if store != ref_store:
            chk.compare(ref)
    oracle = crawl_oracle(
        corpus.rows("pages", ["url", "html", "lang", "warc_ts"]),
        corpus.rows("seeds"),
        corpus.rows("robots"),
        max_rounds=cfg.max_rounds,
        default_budget=cfg.default_budget,
        round_seconds=cfg.round_seconds,
        max_depth=cfg.max_depth,
        n_buckets=cfg.n_buckets,
    )
    ref.compare_oracle(oracle)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PKG, "plans", "crawl.py")):
        _die(f"no {PKG} package next to {os.path.basename(HERE)}/: run from an engine checkout")
    sys.path[:0] = [HERE, ROOT]
    import corpus

    if args.workload not in corpus.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(corpus.WORKLOADS)}")
    workload = corpus.WORKLOADS[args.workload]
    sizing = host_sizing()
    n = sizing["cores"]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        r = workload.rounds
        main_s = args.seconds * MAIN_SHARE
        rest_s = args.seconds - main_s
        phases = (
            [f"l{n}:{n}:0:{r}:{main_s}:1", f"l1:1:0:{r}:{rest_s}:0"] if args.trace == 0
            else [f"u{n}:{n}:0:{r}:{main_s}:1", f"t{n}:{n}:1:{r}:{rest_s}:0"]
        )
        job, noise = run_job(args, sizing, work, phases, DEADLINE_S - 25 - (time.monotonic() - t_begin))
        if job is None:
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            sys.exit(1)
        checks = check_all(job, work, workload)
        attempted = sum(len(c.fetched) for c in checks.values())
        failed = sum(len(c.failed) for c in checks.values())
        if args.trace == 0:
            values = end_to_end(job, checks, n)
            units = END_TO_END
        else:
            import layers

            values, units, table = layers.per_layer(job, checks, work, noise["peak_rss_mb"])
            trace_out = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_out, "w") as fh:
                json.dump(table, fh, indent=1)
            print(f"perfbench: spans and per-layer table in {os.path.relpath(trace_out, ROOT)}")
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "sizing": sizing, "noise": noise, "metrics": values,
            "setup": {"gen_s": job["gen_s"]},
            "phases": [
                {"label": p["label"], "session_start_s": p["session_start_s"],
                 "warmup_s": p["warmup_s"],
                 "walls": [(round_walls(r), r["end"] - r["start"]) for r in p["reps"]]}
                for p in job["phases"]
            ],
            "check_failures": {s: dict(c.counts) for s, c in checks.items() if c.counts},
        }
        with open(os.path.join(base, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
        for s, c in checks.items():
            if c.counts:
                print(f"perfbench: FAILED checks in {os.path.relpath(s, ROOT)}: {dict(c.counts)}")
        print(
            f"perfbench: host steal {noise['steal_frac']:.3f}, load {noise['loadavg_1m']:.2f}, "
            f"cpu probe {noise['cpu_probe_s']:.3f} s, local[{n}] on {sizing['usable_cores']} cores, "
            f"driver heap {sizing['driver_mb']} MB"
        )
        for k, v in values.items():
            print(f"  {k:<48} {v:>14.6g} {units[k]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
