"""Stage 1: HTML → text extraction, byte-identical per url.

The north rule (BASELINE.json:15) fixes a per-row invariant: the extracted
``text`` must be byte-identical to the reference's extraction fixtures.
Our synthetic Common-Crawl-style pages wrap the payload as
``<html><body><pre>{payload}</pre></body></html>`` (FIXTURES.md §1), so the
exact inverse is: take the raw inner bytes of the first ``<pre>`` block.
For pages without a ``<pre>`` block we fall back to a generic
tag-strip + entity-decode path (used by the non-RDF filler class).

:func:`html_bytes_to_text` is the per-document rule; the fused parse
stage (``parse.parse_page``, inside the one ``mapInArrow`` pass) calls it
for every page whose ``text`` is null.
"""

from __future__ import annotations

import html as _html
import re

_PRE_RE = re.compile(rb"<pre>(.*?)</pre>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")


def html_bytes_to_text(payload: bytes | None) -> str | None:
    """Single-document rule (unit-testable): first <pre> block raw, else
    tag-strip + entity-decode."""
    if payload is None:
        return None
    m = _PRE_RE.search(payload)
    if m:
        return m.group(1).decode("utf-8", errors="replace")
    text = payload.decode("utf-8", errors="replace")
    return _html.unescape(_TAG_RE.sub("", text))

