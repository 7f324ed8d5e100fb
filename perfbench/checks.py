"""Output checks over committed snapshot stores (pyarrow only, no Spark).

A URL fails when its committed text differs from the generator's expected
text, when its ``fetch_seq`` repeats, when it is missing from or repeated in
``seen``, when a denied URL was fetched or an allowed one only marked seen,
when its (round, host) exceeds the host's effective budget, or when it
differs between two stores of the same input or from ``oracle.crawl_oracle``.
Every ``fetch_seq`` gap counts as one failure too.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from openreviewcrawler_spark.functions.urls import host_of, path_of
from openreviewcrawler_spark.operators.robots import effective_budget_py, is_disallowed_py


def read_committed(store: str, table: str, columns: list[str]) -> list[tuple]:
    with open(os.path.join(store, "_manifest.json")) as fh:
        paths = json.load(fh)["tables"].get(table, [])
    if not paths:
        return []
    t = pa.concat_tables(pq.read_table(os.path.join(store, p), columns=columns) for p in paths)
    return list(zip(*[t.column(c).to_pylist() for c in columns]))


def store_bytes(store: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store) for f in fs
    )


class Corpus:
    """The generated inputs, as the checks and the oracle need them."""

    def __init__(self, corpus_dir: str):
        self.dir = corpus_dir
        t = pq.read_table(os.path.join(corpus_dir, "pages"), columns=["url", "text"])
        self.text = dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
        self.robots = {
            r["host"]: r
            for r in pq.read_table(os.path.join(corpus_dir, "robots")).to_pylist()
        }

    def rows(self, name: str, columns: list[str] | None = None) -> list[dict]:
        return pq.read_table(os.path.join(self.dir, name), columns=columns).to_pylist()


class StoreCheck:
    """Failures of one committed store; ``failed`` holds failing URLs."""

    def __init__(self, store: str, corpus: Corpus, default_budget: int, round_seconds: float):
        self.store = store
        self.fetched = read_committed(store, "fetched", ["fetch_seq", "url", "round", "text"])
        self.seen = read_committed(store, "seen", ["url", "round"])
        self.failed: set[str] = set()
        self.counts: Counter = Counter()
        self._check(corpus, default_budget, round_seconds)

    def _fail(self, kind: str, urls) -> None:
        urls = list(urls)
        if urls:
            self.counts[kind] += len(urls)
            self.failed.update(urls)

    def _check(self, corpus: Corpus, default_budget: int, round_seconds: float) -> None:
        self._fail("text", (u for _, u, _, t in self.fetched if corpus.text.get(u) != t))

        by_seq = defaultdict(list)
        for seq, u, _, _ in self.fetched:
            by_seq[seq].append(u)
        self._fail("seq_dup", (u for us in by_seq.values() if len(us) > 1 for u in us))
        self._fail("seq_gap", (f"gap:{s}" for s in range(len(self.fetched)) if s not in by_seq))

        seen_round: dict[str, int] = {}
        seen_dups = []
        for u, rnd in self.seen:
            if u in seen_round:
                seen_dups.append(u)
            seen_round[u] = rnd
        self._fail("seen_dup", seen_dups)
        fetched_round = {u: rnd for _, u, rnd, _ in self.fetched}
        self._fail("seen_missing", (u for u, r in fetched_round.items() if seen_round.get(u) != r))

        def denied(u: str) -> bool:
            rule = corpus.robots.get(host_of(u))
            return rule is not None and is_disallowed_py(path_of(u), rule["disallow_prefix"])

        # seen = scheduled ∪ denied: whatever is seen but not fetched was denied
        self._fail("seen_not_denied", (u for u in seen_round if u not in fetched_round and not denied(u)))
        self._fail("fetched_denied", (u for u in fetched_round if denied(u)))

        per_host = defaultdict(list)
        for seq, u, rnd, _ in self.fetched:
            per_host[(rnd, host_of(u))].append((seq, u))
        for (_, host), rows in per_host.items():
            rule = corpus.robots.get(host)
            budget = effective_budget_py(
                rule["max_per_round"] if rule else None,
                rule["crawl_delay_s"] if rule else None,
                default_budget,
                round_seconds,
            )
            self._fail("politeness", (u for _, u in sorted(rows)[budget:]))

    def fingerprint(self, upto_round: int) -> tuple[set, set]:
        return (
            {(s, u, r) for s, u, r, _ in self.fetched if r <= upto_round},
            {(u, r) for u, r in self.seen if r <= upto_round},
        )

    def compare(self, other: "StoreCheck") -> None:
        """Require the same ordering and seen set as ``other`` over the
        rounds this store ran."""
        last = max((r for _, _, r, _ in self.fetched), default=0)
        mine, theirs = self.fingerprint(last), other.fingerprint(last)
        self._fail("order_differs", {u for _, u, _ in mine[0] ^ theirs[0]})
        self._fail("seen_differs", {u for u, _ in mine[1] ^ theirs[1]})

    def compare_oracle(self, ref) -> None:
        want = {(r["fetch_seq"], r["url"], r["round"], r["text"]) for r in ref.fetched}
        self._fail("oracle_fetched", {row[1] for row in set(self.fetched) ^ want})
        self._fail("oracle_seen", {u for u, _ in set(self.seen) ^ set(ref.seen.items())})
