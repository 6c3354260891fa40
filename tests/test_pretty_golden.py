"""Byte-locked PrettyPrint output over full web-transcoder chains.

The reference's multi-page suite runs with PrettyPrint=true
(Carbon.Readability.Tests/NReadabilityWebTranscoderTests.cs:208) but only
asserts substrings; PrettyPrint is thus the one serializer mode whose
parity rests on a derivation rather than a diff. tests/test_pretty_printer.py
encodes the .NET XmlEncodedRawTextWriterIndent algorithm semantics
(referencesource: newline+2-space indent between element-only siblings,
suppressed inside mixed content, attribute/text escaping per
XmlEncodedRawTextWriter); these goldens freeze the COMPOSED output of
that algorithm over three real page chains byte-for-byte, so any
serializer drift is caught at full-document scale. No .NET runtime
exists in this environment to produce reference bytes directly — the
goldens are produced by this engine and locked (regression evidence,
with the per-rule derivation in test_pretty_printer.py as the parity
argument).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "golden")


@pytest.mark.reference_fixtures
@pytest.mark.parametrize("num", [1, 4, 10])
def test_webtranscode_prettyprint_bytes(num):
    sys.setrecursionlimit(40000)
    from test_webtranscoder import URLS, make_fetcher
    from nreadability_spark.readability.webtranscoder import WebTranscoder

    wt = WebTranscoder(fetcher=make_fetcher(num, URLS[num]))
    r = wt.transcode(URLS[num][0], pretty_print=True)
    assert r.content_extracted

    golden = os.path.join(GOLDEN_DIR, f"webtranscode_pretty_{num:02d}.html")
    with open(golden, "r", encoding="utf-8", newline="") as f:
        want = f.read()
    assert r.content == want, (
        f"PrettyPrint output drifted from golden for chain {num}; if the "
        "kernel change is intentional, regenerate tests/golden/ and "
        "document why")


def test_prettyprint_differs_from_compact():
    """PrettyPrint must actually engage (indent newlines present) and the
    compact mode must stay compact, over a synthesized 3-page chain."""
    sys.setrecursionlimit(40000)
    from nreadability_spark.readability.webtranscoder import WebTranscoder
    from nreadability_spark.spark.pages import chained_page_py

    chain = dict(chained_page_py(10, "Pretty printing keeps every page "
                                 "of an article readable. " * 6, k, 3)
                 for k in range(1, 4))
    root = next(iter(chain))
    pretty = WebTranscoder(fetcher=chain.get) \
        .transcode(root, pretty_print=True).content
    compact = WebTranscoder(fetcher=chain.get) \
        .transcode(root, pretty_print=False).content
    assert "readability-page-3" in compact
    assert "\n  <head>" in pretty
    assert "\n  <head>" not in compact
    assert len(pretty) > len(compact)
