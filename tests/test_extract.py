"""Parser-fixture tests (FIXTURES.md §3) + span-sequence equality
(BASELINE.json input_hint) + property checks for URL/robots/bloom."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from croawl_spark.functions.extract import extract_all, span_fingerprint
from croawl_spark.functions.robots import allowed, parse_robots
from croawl_spark.functions.urls import canonicalize_url

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures" / "dc_pages.json").read_text()
)


@pytest.mark.parametrize("fx", FIXTURES, ids=[f["fixture_id"] for f in FIXTURES])
def test_extract_pure(fx):
    got = extract_all(fx["spans"])
    exp = fx["expected"]
    assert got["dc_title"] == exp["dc_title"], fx["fixture_id"]
    assert got["dc_creator"] == exp["dc_creator"]
    assert got["dc_identifier"] == exp["dc_identifier"]
    assert got["oai_endpoint"] == exp["oai_endpoint"]


# Inline fixtures for the <meta> pre-filter (a tag whose raw attribute
# text has no "dc." is skipped unparsed): the DC name may come after its
# content, in single quotes and upper case; "dc." in a content value or a
# citation_* name must not make the tag count.
META_FIXTURES = [
    (
        "content_before_name",
        '<meta content="A Title" name="dc.title"><meta content="Ann" name="DC.creator">',
        {"dc_title": "A Title", "dc_creator": ["Ann"], "dc_identifier": None},
    ),
    (
        "upper_single_quotes",
        "<META NAME='DC.Creator' CONTENT='Bo'><meta name='DC.IDENTIFIER' content='doi:1'>",
        {"dc_title": None, "dc_creator": ["Bo"], "dc_identifier": "doi:1"},
    ),
    (
        "dc_in_content_only",
        '<meta name="x" content="dc.title"><meta name="dc.title" content="Real">',
        {"dc_title": "Real", "dc_creator": [], "dc_identifier": None},
    ),
    (
        "citation_distractor",
        '<meta name="citation_title" content="Not DC"><meta name="citation_author"'
        ' content="dc.creator Eve"><meta name="DC.title" content="T">',
        {"dc_title": "T", "dc_creator": [], "dc_identifier": None},
    ),
]


@pytest.mark.parametrize(
    "html,exp", [f[1:] for f in META_FIXTURES], ids=[f[0] for f in META_FIXTURES]
)
def test_extract_meta_prefilter(html, exp):
    from croawl_spark.functions.extract import extract_from_html

    got = extract_from_html(f"<html>{html}<a href='http://h.test/x'>x</a></html>")
    assert {k: got[k] for k in exp} == exp
    assert got["outlinks"] == ["http://h.test/x"]


def test_extract_job_spark(spark):
    """End-to-end §3.2 path: documents_interleaved DF -> metadata DF."""
    from croawl_spark.plans.extract import extract_metadata, with_fingerprint
    from croawl_spark.tables import DOCUMENTS_INTERLEAVED

    rows = [
        {"doc_id": f["fixture_id"],
         "spans": [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in f["spans"]]}
        for f in FIXTURES
    ]
    docs = spark.createDataFrame(
        [(r["doc_id"], r["spans"]) for r in rows], DOCUMENTS_INTERLEAVED
    )
    meta = {r["doc_id"]: r for r in extract_metadata(docs).collect()}
    assert len(meta) == len(FIXTURES)
    for f in FIXTURES:
        m = meta[f["fixture_id"]]
        e = f["expected"]
        assert m["dc_title"] == e["dc_title"], f["fixture_id"]
        assert list(m["dc_creator"]) == e["dc_creator"]
        assert m["dc_identifier"] == e["dc_identifier"]
        assert m["oai_endpoint"] == e["oai_endpoint"]

    # span-sequence equality: Spark-side fingerprint == pure-python fingerprint
    fps = {r["doc_id"]: r["span_fp"] for r in with_fingerprint(docs).collect()}
    for f in FIXTURES:
        assert fps[f["fixture_id"]] == span_fingerprint(f["spans"]), f["fixture_id"]


def test_fingerprint_is_order_invariant_by_offset():
    a = [
        {"kind": "text", "text": "x", "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "img://1", "offset": 1},
    ]
    b = list(reversed(a))  # same spans, stored out of order
    assert span_fingerprint(a) == span_fingerprint(b)
    c = [dict(a[0], text="y"), a[1]]
    assert span_fingerprint(a) != span_fingerprint(c)


# --- property checks (SURVEY §5.2.6) --------------------------------------

CANON_CASES = [
    ("HTTP://Example.COM:80/a/../b#frag", "http://example.com/b"),
    ("https://h.test:443/", "https://h.test/"),
    ("https://h.test:8443/x", "https://h.test:8443/x"),
    ("http://h.test", "http://h.test/"),
    ("http://h.test/a/./b/../c?q=1&p=2", "http://h.test/a/c?q=1&p=2"),
    ("http://h.test/%7euser/%41", "http://h.test/~user/A"),
    ("http://h.test/a%2fb", "http://h.test/a%2Fb"),
    ("ftp://h.test/x", None),
    ("not a url", None),
    ("", None),
    (None, None),
    ("http://h.test/p?", "http://h.test/p"),
]


@pytest.mark.parametrize("raw,want", CANON_CASES)
def test_canonicalize_pinned(raw, want):
    assert canonicalize_url(raw) == want


def test_canonicalize_idempotent():
    import random

    rnd = random.Random(42)
    for _ in range(500):
        raw = "".join(
            rnd.choice("abcXYZ:/?#%.~-_=&0123456789") for _ in range(rnd.randint(5, 40))
        )
        for prefix in ("http://h.test/", "HTTPS://H2.TEST:443/"):
            c = canonicalize_url(prefix + raw)
            if c is not None:
                assert canonicalize_url(c) == c, (raw, c)


def test_robots_pinned():
    rules, delay = parse_robots(
        "User-agent: *\nDisallow: /p/1\nAllow: /p/12\nCrawl-delay: 2\n"
        "User-agent: other\nDisallow: /\n"
    )
    assert delay == 2.0
    assert allowed(rules, "/p/2")        # no match -> allow
    assert not allowed(rules, "/p/1")    # disallow exact
    assert not allowed(rules, "/p/10")   # prefix
    assert allowed(rules, "/p/12")       # longer allow wins
    assert allowed(rules, "/p/123")      # longest match is the allow
    assert allowed([], "/anything")
    # allow wins equal-length ties
    r2, _ = parse_robots("User-agent: *\nDisallow: /x\nAllow: /x\n")
    assert allowed(r2, "/x/1")


def test_bloom_no_false_negatives(spark):
    import random

    from pyspark.sql import functions as F

    from croawl_spark.operators.seenfilter import build_filter, probe_filter

    rnd = random.Random(7)
    hashes = [rnd.randint(-(2**63), 2**63 - 1) for _ in range(2000)]
    seen = spark.createDataFrame([(h,) for h in hashes], "url_hash long")
    filt = build_filter(seen, n_buckets=8, m_bits=1 << 12)
    cand = spark.createDataFrame(
        [(h, i < len(hashes)) for i, h in enumerate(hashes + [rnd.randint(-(2**63), 2**63 - 1) for _ in range(1000)])],
        "url_hash long, was_inserted boolean",
    )
    probed = probe_filter(cand, filt, n_buckets=8, m_bits=1 << 12)
    # every inserted hash MUST probe maybe_seen (no false negatives)
    fn = probed.filter(F.col("was_inserted") & ~F.col("maybe_seen")).count()
    assert fn == 0
    # and the filter actually filters: most non-inserted are 'definitely new'
    fresh = probed.filter(~F.col("was_inserted") & ~F.col("maybe_seen")).count()
    assert fresh > 800


def test_canonicalize_fast_path_equivalence():
    """The vectorized fast path in canonicalize_udf must admit ONLY
    fixed points of canonicalize_url."""
    import random
    import re

    import pandas as pd

    from croawl_spark import synth
    from croawl_spark.functions.urls import _DOTSEG_RE, _FAST_RE

    urls = []
    for i in range(20000):
        urls.append(synth.target_url(f"eq{i // 3}", i % 3))
    rnd = random.Random(99)
    for _ in range(5000):
        urls.append(
            "http" + rnd.choice(["", "s"]) + "://"
            + "".join(rnd.choice("abcZ09.-:@/") for _ in range(rnd.randint(3, 15)))
            + rnd.choice(["", "/p/../x", "?q=1", "?", "#f", "/%41", "/a//b", "/."])
        )
    s = pd.Series(urls)
    fast = s.str.match(_FAST_RE, na=False) & ~s.str.contains(_DOTSEG_RE, regex=True, na=False)
    n_fast = 0
    for u, is_fast in zip(urls, fast):
        if is_fast:
            n_fast += 1
            assert canonicalize_url(u) == u, u
    assert n_fast > 5000  # the fast path actually fires on plain URLs
