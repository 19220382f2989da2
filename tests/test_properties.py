"""Property-based tests (SURVEY.md §5.2.6, hypothesis) over the pure-python
kernels that back the vectorized UDFs — no SparkSession needed, so these
fuzz orders of magnitude more inputs per second than DataFrame tests.

Each property here is a correctness invariant the engine RELIES on:
canonicalization idempotence (the frontier stores canon output and may
re-canonicalize on resume), dot-segment elimination (seen-set identity),
AMQ no-false-negatives (crawl-order equality), span-fingerprint injectivity
on order (the driver's per-row invariant).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from croawl_spark.functions.extract import span_fingerprint
from croawl_spark.functions.urls import canonicalize_url
from croawl_spark.operators.seenfilter import _positions, _set_bits, _test_bits

# -- F3 canonicalization ------------------------------------------------------

url_texts = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=80,
)
hostish = st.from_regex(r"[A-Za-z0-9.\-]{1,20}", fullmatch=True)
pathish = st.from_regex(r"(/[A-Za-z0-9._~%!$&'()*+,;=:@\-]{0,10}|/\.\.|/\.){0,6}", fullmatch=True)


@settings(max_examples=300)
@given(st.text(max_size=100))
def test_canonicalize_never_crashes_and_is_idempotent(s):
    c = canonicalize_url(s)
    if c is not None:
        assert canonicalize_url(c) == c  # idempotence: F3(F3(u)) = F3(u)


@settings(max_examples=300)
@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    host=hostish,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=pathish,
    query=st.sampled_from(["", "?a=1&b=2", "?z"]),
    frag=st.sampled_from(["", "#f", "#"]),
)
def test_canonicalize_structured_urls(scheme, host, port, path, query, frag):
    u = f"{scheme}://{host}{port}{path}{query}{frag}"
    c = canonicalize_url(u)
    if c is None:
        return
    assert canonicalize_url(c) == c
    assert "#" not in c                      # fragment stripped
    sch, rest = c.split("://", 1)
    assert sch in ("http", "https")          # scheme lowercased
    hostpart = rest.split("/", 1)[0]
    canon_path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    canon_path = canon_path.split("?", 1)[0]
    # dot-segments resolved (host may legitimately contain dots)
    assert "/../" not in canon_path and not canon_path.endswith("/..")
    assert "/./" not in canon_path and not canon_path.endswith("/.")
    assert hostpart == hostpart.lower()      # host lowercased
    assert not hostpart.endswith(":80") or sch == "https"
    assert not hostpart.endswith(":443") or sch == "http"


# -- A6 bloom kernel ----------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    inserted=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=300, unique=True),
    probes=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=100),
    m_log2=st.integers(10, 14),
)
def test_bloom_kernel_no_false_negatives(inserted, probes, m_log2):
    m = 1 << m_log2
    bits = np.zeros(m // 8, dtype=np.uint8)
    ins = np.array(inserted, dtype=np.int64)
    _set_bits(bits, _positions(ins, m))
    assert _test_bits(bits, _positions(ins, m)).all()  # FN impossible
    if probes:
        _ = _test_bits(bits, _positions(np.array(probes, dtype=np.int64), m))


# -- V1 span fingerprint ------------------------------------------------------

span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "media"]),
        "text": st.one_of(st.none(), st.text(max_size=20)),
        "media_ref": st.one_of(st.none(), st.text(max_size=20)),
        "offset": st.integers(0, 100),
    }
)


@settings(max_examples=200)
@given(st.lists(span_st, max_size=6))
def test_span_fingerprint_is_offset_order_invariant(spans):
    # distinct offsets => permuting the list must not change the fingerprint
    # (fingerprint is over offset-SORTED spans, the driver's order rule)
    seen_offsets = set()
    uniq = []
    for s in spans:
        if s["offset"] not in seen_offsets:
            seen_offsets.add(s["offset"])
            uniq.append(s)
    fp = span_fingerprint(uniq)
    assert span_fingerprint(list(reversed(uniq))) == fp
    if len(uniq) >= 2:
        # changing content MUST change the fingerprint (separator-injection
        # resistant: fields are delimited, not concatenated bare)
        mutated = [dict(s) for s in uniq]
        mutated[0]["kind"] = "media" if mutated[0]["kind"] == "text" else "text"
        assert span_fingerprint(mutated) != fp
