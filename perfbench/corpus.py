"""Seeded synthetic crawl corpora for the benchmark workloads.

Every table is built from column expressions over ``spark.range`` (the
``sources/bench_data.py`` pattern), so nothing is materialised on the driver.
Pseudo-random choices come from ``xxhash64(id, seed, salt)``: the same seed
gives byte-identical tables at any parallelism.

Tables written per corpus directory (Parquet):

* ``pages``  (url, warc_ts, html binary, text, lang) — ``text`` is the
  expected extraction of ``html``, written next to each page; the engine never
  reads it, the output checks compare the committed ``fetched.text`` with it.
* ``seeds``  (seed_index, url) — seed spellings are dirty on every other row
  (uppercase scheme/host, ``#frag``), so canonicalisation does real work.
* ``robots`` (host, disallow_prefix, crawl_delay_s, max_per_round).

Every outlink points at a page of the corpus, so every admitted URL is fetched
and ``fetch_seq`` is dense.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH_S = 1767225600  # 2026-01-01 UTC
_FILLER = "lorem ipsum dolor sit amet " * 4


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    n_seeds: int  # expected number of seeded pages
    fanout: int  # outlinks per page
    n_paras: int  # paragraphs per page (page size and parse cost)
    rounds: int
    budget: int  # CrawlConfig.default_budget and robots max_per_round
    crawl_delay_s: float = 0.0  # robots crawl delay of 1 host in 4 (0: none)
    max_depth: int = 3


WORKLOADS = {
    w.name: w
    for w in (
        # every page seeded, frontier ~10x the admitted batch, ~0 new outlinks
        Workload("uniform-frontier", n_pages=16_000, n_hosts=200, n_seeds=16_000,
                 fanout=2, n_paras=8, rounds=2, budget=8),
        # sparse seeds, large pages, wide fan-out, generous budget; the crawl
        # delay caps 1 host in 4 at floor(60 s / 1.5 s) = 40 URLs a round
        Workload("discovery-parse", n_pages=8_000, n_hosts=80, n_seeds=500,
                 fanout=12, n_paras=16, rounds=2, budget=96, crawl_delay_s=1.5),
    )
}


def _rnd(i: Column, seed: int, salt: Column | int, modulus: int) -> Column:
    return F.pmod(F.xxhash64(i, F.lit(seed), F.lit(salt) if isinstance(salt, int) else salt),
                  F.lit(modulus))


def host_name(h: Column) -> Column:
    return F.concat(F.lit("host"), F.lpad(h.cast("string"), 5, "0"), F.lit(".example"))


def _page_url(host: Column, i: Column) -> Column:
    return F.concat(F.lit("https://"), host_name(host), F.lit("/p/"), i.cast("string"))


def page_index(w: Workload, seed: int) -> DataFrame:
    """(id, host) for every page; ids are the page numbers in the url."""
    spark = SparkSession.getActiveSession()
    return spark.range(w.n_pages).select("id", _rnd(F.col("id"), seed, 1, w.n_hosts).alias("host"))


def pages(w: Workload, seed: int) -> DataFrame:
    i = F.col("id")
    istr = i.cast("string")
    title = F.concat(F.lit("T"), istr, F.lit(" "), host_name(F.col("host")), F.lit(" page"))
    # paragraphs and links are generated by lambdas over sequence(), so the
    # expression size does not grow with the page size
    paras = F.sequence(F.lit(0), F.lit(w.n_paras - 1))
    paras_html = F.array_join(F.transform(paras, lambda p: F.concat(
        F.lit("<p>para "), p.cast("string"), F.lit(" <b>bold"), istr,
        F.lit(f"</b> {_FILLER}&amp;tail</p>"))), "")
    paras_text = F.array_join(F.transform(paras, lambda p: F.concat(
        F.lit("\npara "), p.cast("string"), F.lit(" bold"), istr, F.lit(f" {_FILLER}&tail"))), "")

    def link(k: Column) -> Column:
        # outlink k of page i -> page t; odd links are spelled dirty
        # (uppercase scheme and host, fragment) so canonicalisation has work
        t = _rnd(i, seed, k + 100, w.n_pages)
        h = _rnd(t, seed, 1, w.n_hosts)
        return F.when(k % 2 == 1, F.concat(
            F.lit("HTTPS://"), F.upper(host_name(h)), F.lit("/p/"), t.cast("string"), F.lit("#frag"),
        )).otherwise(_page_url(h, t))

    links = F.array_join(F.transform(F.sequence(F.lit(0), F.lit(w.fanout - 1)), lambda k: F.concat(
        F.lit('<a href="'), link(k), F.lit('">x</a>'))), "")
    html = F.concat(F.lit("<html><head><title>"), title, F.lit("</title></head><body>"),
                    paras_html, links, F.lit("</body></html>"))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ("en", "en", "en", "de", "fr")]), (i % 5 + 1).cast("int")
    )
    return page_index(w, seed).select(
        _page_url(F.col("host"), i).alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH_S) + i % 86400).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.concat(title, paras_text).alias("text"),
        lang.alias("lang"),
    )


def seeds(w: Workload, seed: int) -> DataFrame:
    i = F.col("id")
    picked = page_index(w, seed)
    if w.n_seeds < w.n_pages:
        picked = picked.filter(_rnd(i, seed, 3, w.n_pages) < F.lit(w.n_seeds))
    dirty = F.concat(
        F.lit("HTTPS://"), F.upper(host_name(F.col("host"))), F.lit("/p/"), i.cast("string"),
        F.lit("#frag"),
    )
    return picked.select(
        _rnd(i, seed, 4, 997).cast("int").alias("seed_index"),
        F.when(i % 2 == 0, _page_url(F.col("host"), i)).otherwise(dirty).alias("url"),
    )


def robots(w: Workload, seed: int) -> DataFrame:
    """One rule per host; 1 in 16 hosts disallow ``/p/1`` prefixes, and 1 in 4
    carry the workload's crawl delay, which caps their budget at
    ``floor(round_seconds / crawl_delay_s)``."""
    h = F.col("id")
    spark = SparkSession.getActiveSession()
    delayed = (_rnd(h, seed, 6, 4) == 0) & F.lit(w.crawl_delay_s > 0)
    return spark.range(w.n_hosts).select(
        host_name(h).alias("host"),
        F.when(_rnd(h, seed, 5, 16) == 0, F.array(F.lit("/p/1"))).alias("disallow_prefix"),
        F.when(delayed, F.lit(w.crawl_delay_s)).cast("double").alias("crawl_delay_s"),
        F.lit(w.budget).cast("int").alias("max_per_round"),
    )


def materialise(w: Workload, seed: int, out_dir: str) -> None:
    """Write pages, seeds and robots for ``(w, seed)`` under ``out_dir``."""
    pages(w, seed).write.mode("overwrite").parquet(os.path.join(out_dir, "pages"))
    seeds(w, seed).write.mode("overwrite").parquet(os.path.join(out_dir, "seeds"))
    robots(w, seed).write.mode("overwrite").parquet(os.path.join(out_dir, "robots"))
