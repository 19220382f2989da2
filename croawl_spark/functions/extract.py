"""Span-document parsing: outlink + Dublin Core + OAI-PMH extraction (V3).

Pinned extraction semantics (FIXTURES.md §3, mirrored by the oracle):
  * text spans are concatenated in ``offset`` order BEFORE tag matching —
    a tag split across adjacent spans must still parse
  * <meta> names matched case-insensitively: dc.title, dc.creator,
    dc.identifier; attribute order free; single or double quotes
  * dc.title / dc.identifier: FIRST occurrence wins; dc.creator: all, in order
  * oai_endpoint: first <link>/<a> href containing 'verb=Identify' or a
    path segment '/oai'
  * outlinks: every <a href=...> in document order
  * distractor tags (citation_*, og:*) are NOT extracted; a <meta> whose
    raw attribute text has no 'dc.' (any case) cannot name a dc.* field,
    so its attributes are never parsed — the bulk of a tag-dense page

Spark-side this runs inside mapInPandas over Arrow batches (zero per-row
JVM crossings); the pure functions below are the single source of truth.
"""

from __future__ import annotations

import re

_TAG_RE = re.compile(r"<\s*(meta|a|link)\b([^>]*)>", re.IGNORECASE)
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][\w:.-]*)\s*=\s*(?:"([^"]*)"|'([^']*)')"""
)
_OAI_RE = re.compile(r"(verb=Identify|/oai(?:[/?]|$)|/cgi/oai2|/oai/request)", re.IGNORECASE)


def _attrs(raw: str) -> dict[str, str]:
    return {
        m.group(1).lower(): (m.group(2) if m.group(2) is not None else m.group(3))
        for m in _ATTR_RE.finditer(raw)
    }


def doc_text(spans: list[dict]) -> str:
    """Concatenate text spans in offset order (media spans contribute nothing)."""
    texts = [
        (s["offset"], s["text"])
        for s in spans
        if s.get("kind") == "text" and s.get("text") is not None
    ]
    return "".join(t for _, t in sorted(texts, key=lambda x: x[0]))


def extract_all(spans: list[dict]) -> dict:
    """-> {dc_title, dc_creator: list, dc_identifier, oai_endpoint, outlinks: list}"""
    return extract_from_html(doc_text(spans))


def extract_from_html(html: str) -> dict:
    """Same extraction over an already-assembled HTML string. The Spark hot
    path assembles the string JVM-side (array_join over offset-sorted text
    spans) so the Arrow crossing carries one flat string column instead of
    nested structs — much cheaper at 100 TB."""
    title = identifier = oai = None
    creators: list[str] = []
    outlinks: list[str] = []
    for m in _TAG_RE.finditer(html):
        tag = m.group(1).lower()
        raw = m.group(2)
        if tag == "meta" and "dc." not in raw.lower():
            continue
        a = _attrs(raw)
        if tag == "meta":
            name = (a.get("name") or "").lower()
            content = a.get("content")
            if content is None:
                continue
            if name == "dc.title" and title is None:
                title = content
            elif name == "dc.creator":
                creators.append(content)
            elif name == "dc.identifier" and identifier is None:
                identifier = content
        else:  # a / link
            href = a.get("href")
            if not href:
                continue
            if tag == "a":
                outlinks.append(href)
            if oai is None and _OAI_RE.search(href):
                oai = href
    return {
        "dc_title": title,
        "dc_creator": creators,
        "dc_identifier": identifier,
        "oai_endpoint": oai,
        "outlinks": outlinks,
    }


def span_fingerprint(spans: list[dict]) -> str:
    """Per-row invariant over (kind, text, media_ref, order) — BASELINE.json
    input_hint. Order = position after sorting by offset."""
    import hashlib

    h = hashlib.sha256()
    for s in sorted(spans, key=lambda x: x["offset"]):
        h.update(
            "\x1e".join(
                [s.get("kind") or "", s.get("text") or "", s.get("media_ref") or ""]
            ).encode("utf-8")
        )
        h.update(b"\x1d")
    return h.hexdigest()
