"""Arrow-vectorized HTML→text extraction.

The reference's analogous heavy per-record decode is the external
XML→JSON extraction step (reference:
orchestration/templates/process-xml-release.yaml:70-90, 1024 objects per
part at 4 GiB / 1.5 CPU). Here the payload is Common-Crawl-style HTML
(``html: binary``) and the invariant (BASELINE.json input_hint) is
**byte-identical extracted text per url** across replays and across
pandas/pyarrow versions — so the kernel is a pinned, pure-regex pipeline
with an explicit entity table, no library-dependent parsing.

:func:`extract_text_series` is the vectorized kernel the merge apply
runs on each bucket's surviving upserts
(:mod:`~clinvar_ingest_spark.operators.merge_cogroup`, both write
modes); :func:`extract_text_str` is its one-string reference.
"""

from __future__ import annotations

import re

import pandas as pd

# Pinned, ordered entity table (subset is deliberate: determinism beats
# coverage; unknown entities pass through verbatim).
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # must be last: &amp;lt; → &lt; would double-decode otherwise
)

_RE_HEAD = re.compile(r"(?is)<head\b.*?</head\s*>")
_RE_SCRIPT = re.compile(r"(?is)<script\b.*?</script\s*>")
_RE_STYLE = re.compile(r"(?is)<style\b.*?</style\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
# Block-level tags become newlines so word boundaries survive tag removal.
_RE_BLOCK_TAG = re.compile(
    r"(?i)</?(?:p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|section|article|header|footer|blockquote|pre)\b[^>]*>"
)
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"[ \t\r\f\v]+")
_RE_NL = re.compile(r" ?\n ?")
_RE_MULTI_NL = re.compile(r"\n{2,}")


def extract_text_str(html: str) -> str:
    """Extract visible text from one HTML string (pure, deterministic)."""
    s = _RE_HEAD.sub(" ", html)
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_STYLE.sub(" ", s)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_BLOCK_TAG.sub("\n", s)
    s = _RE_TAG.sub(" ", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    s = _RE_WS.sub(" ", s)
    s = _RE_NL.sub("\n", s)
    s = _RE_MULTI_NL.sub("\n", s)
    return s.strip()


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized kernel: Series[bytes|str|None] → Series[str|None].

    Uses pandas ``.str`` ops (C-level loops over the regex pipeline)
    rather than a Python ``for`` row loop; NULL html (e.g. delete
    events, FIXTURES.md §2) maps to NULL text.
    """
    notna = html.notna()
    if not notna.any():
        return pd.Series([None] * len(html), index=html.index, dtype="object")
    s = html[notna]
    if len(s) and isinstance(s.iloc[0], (bytes, bytearray)):
        s = s.map(lambda b: b.decode("utf-8", errors="replace"))
    s = s.astype("string")
    s = s.str.replace(_RE_HEAD, " ", regex=True)
    s = s.str.replace(_RE_SCRIPT, " ", regex=True)
    s = s.str.replace(_RE_STYLE, " ", regex=True)
    s = s.str.replace(_RE_COMMENT, " ", regex=True)
    s = s.str.replace(_RE_BLOCK_TAG, "\n", regex=True)
    s = s.str.replace(_RE_TAG, " ", regex=True)
    for ent, rep in _ENTITIES:
        s = s.str.replace(ent, rep, regex=False)
    s = s.str.replace(_RE_WS, " ", regex=True)
    s = s.str.replace(_RE_NL, "\n", regex=True)
    s = s.str.replace(_RE_MULTI_NL, "\n", regex=True)
    s = s.str.strip()
    out = pd.Series([None] * len(html), index=html.index, dtype="object")
    out[notna] = s.astype("object")
    return out
