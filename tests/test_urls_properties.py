"""Property parity: the Arrow-vectorized canonicalizer vs its Python twin.

The crawl engine's seen-set, scheduling keys and parity oracle all assume
``canonicalize_series`` (the pandas/Arrow hot path) and ``canonicalize_url``
(the pure-Python oracle twin) agree byte-for-byte on ANY input string —
not only on URL-shaped fixtures. Hypothesis feeds adversarial strings
(random unicode, stray '#', '%' runs, ports, missing hosts, newlines —
the '#x\\nfragment' class already bit once, see canonicalize_series
docstring) and asserts exact agreement.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from openreviewcrawler_spark.functions.urls import canonicalize_series, canonicalize_url

URLISH = st.one_of(
    st.text(max_size=60),
    st.builds(
        lambda scheme, host, port, path, q, frag: f"{scheme}://{host}{port}{path}{q}{frag}",
        st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"]),
        st.text(
            alphabet="aB9.-%é", max_size=12
        ),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.text(alphabet="/aZ5%41%7e%2F \n#?", max_size=16),
        st.sampled_from(["", "?x=1&y=%41", "?%7E"]),
        st.sampled_from(["", "#frag", "#a\nb", "##"]),
    ),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(URLISH, min_size=1, max_size=50))
def test_series_matches_python_twin(urls):
    got = canonicalize_series(pd.Series(urls, dtype="object")).tolist()
    want = [canonicalize_url(u) for u in urls]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_extract_text_total_on_arbitrary_bytes(raw):
    """extract_text/extract_outlinks must be TOTAL on arbitrary byte blobs
    (a crawler parses whatever the wire delivers) and the bytes path must
    equal the pre-decoded str path (the engine decodes once in
    extract_batch; the oracle passes str)."""
    from openreviewcrawler_spark.functions.htmltext import (
        extract_outlinks,
        extract_text,
    )

    s = raw.decode("utf-8", errors="replace")
    assert extract_text(raw) == extract_text(s)
    assert extract_outlinks(raw) == extract_outlinks(s)


#: HTML pages as the fetch join hands them to the parse: NULL, arbitrary
#: text (mostly link-free), or anchors around URL-ish hrefs, some repeated
PAGES = st.one_of(
    st.none(),
    st.text(max_size=120),
    st.lists(
        st.tuples(st.text(alphabet="<>ap \n", max_size=6), URLISH, st.sampled_from(['"', "'"])),
        max_size=8,
    ).map(lambda links: "".join(f'{pre}<a href={q}{u}{q}>x</a>' for pre, u, q in links * 2)),
)


def _want_outlinks(html: str | None) -> list[str]:
    from openreviewcrawler_spark.functions.htmltext import extract_outlinks

    return [canonicalize_url(h) for h in extract_outlinks(html or "")]


@settings(max_examples=300, deadline=None)
@given(st.lists(PAGES, max_size=12))
def test_canonical_outlinks_match_per_href_python_twin(pages):
    """The batch path canonicalises all hrefs in one vectorised call and cuts
    the result back per page: one output per raw href, order and duplicates
    kept, pages without links (or NULL html, decoded to '') give []."""
    from openreviewcrawler_spark.functions.htmltext import canonical_outlinks

    got = canonical_outlinks(pd.Series([p or "" for p in pages], dtype="object")).tolist()
    assert got == [_want_outlinks(p) for p in pages]


@settings(max_examples=15, deadline=None)
@given(st.lists(PAGES, min_size=1, max_size=6))
def test_extract_batch_outlinks_are_canonical(spark, pages):
    """End to end through ``mapInPandas``: the parse pass emits each page's
    outlinks already canonical, exactly as the oracle canonicalises them."""
    from openreviewcrawler_spark.functions.htmltext import extract_batch

    rows = [(i, None if p is None else p.encode("utf-8")) for i, p in enumerate(pages)]
    df = spark.createDataFrame(rows, "id int, html binary")
    out = extract_batch(df, schema="id int, extracted_text string, outlinks array<string>")
    got = {r["id"]: list(r["outlinks"]) for r in out.collect()}
    assert [got[i] for i in range(len(pages))] == [_want_outlinks(p) for p in pages]
