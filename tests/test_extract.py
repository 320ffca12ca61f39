"""Golden-byte tests for the HTML→text extractor (input_hint invariant:
byte-identical extracted text per url). Modeled on the reference's
golden-struct parser tests (SCVSpec.scala:21-130)."""

import pandas as pd

from clinvar_ingest_spark.functions.extract import (
    extract_text_series,
    extract_text_str,
)

GOLDENS = [
    (
        '<html lang="en"><head><title>t</title><script>var x=1;</script>'
        "<style>p{color:red}</style></head><body><!-- c --><h1>Hello</h1>"
        "<p>world &amp; friends</p><div>footer</div></body></html>",
        "Hello\nworld & friends\nfooter",
    ),
    ("<p>a</p><p>b</p>", "a\nb"),
    ("no tags at all", "no tags at all"),
    ("<b>bold</b> and <i>italic</i>", "bold and italic"),
    ("&lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;x", '<tag> "q" \'s\' x'),
    ("<script>alert('<p>hi</p>')</script>done", "done"),
    ("  <div>  spaced   out  </div>  ", "spaced out"),
    ("&amp;lt;", "&lt;"),  # no double-decode
]


def test_goldens_str():
    for html, want in GOLDENS:
        assert extract_text_str(html) == want, html


def test_series_matches_scalar_and_handles_bytes_nulls():
    htmls = [g[0] for g in GOLDENS]
    s = pd.Series([h.encode() for h in htmls] + [None, b""])
    out = extract_text_series(s)
    for i, (_, want) in enumerate(GOLDENS):
        assert out.iloc[i] == want
    assert out.iloc[len(GOLDENS)] is None
    assert out.iloc[len(GOLDENS) + 1] == ""


def test_deterministic_repeat():
    s = pd.Series([GOLDENS[0][0]] * 100)
    a = extract_text_series(s)
    b = extract_text_series(s)
    assert (a == b).all()
