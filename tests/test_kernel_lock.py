"""Byte lock on the readability kernel's output that needs no reference
corpus.

Every page of the ``kernel_corpus`` sets is transcoded, and the md5 of
``(extracted, title, content, content_text, next_page_url)`` is compared
per document with the digest pinned in ``kernel_lock.json``. The tag-soup
set runs twice: with the default settings (``soup``) and with
``dont_normalize_spaces`` (``soup_raw``), so both inner-text settings are
locked. A kernel change that is meant to keep every output byte must leave
this test green; one that changes output on purpose re-pins with

    python tests/test_kernel_lock.py --pin

and says why in its change notes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(_TESTS), _TESTS]

import kernel_corpus  # noqa: E402
from test_kernel_oracles import SF_DIR  # noqa: E402

from nreadability_spark.readability.transcoder import Transcoder  # noqa: E402

LOCK_PATH = os.path.join(_TESTS, "kernel_lock.json")

# set name -> (pages, Transcoder options)
SETS = {
    "golden": (kernel_corpus.golden_pages, {}),
    "template": (lambda: kernel_corpus.template_pages(SF_DIR), {}),
    "soup": (kernel_corpus.soup_pages, {}),
    "soup_raw": (kernel_corpus.soup_pages, {"dont_normalize_spaces": True}),
}


def _outputs(name: str) -> dict[str, list]:
    sys.setrecursionlimit(40000)  # as the Spark kernel sets it
    pages, options = SETS[name]
    out = {}
    for key, url, html in pages():
        r = Transcoder(**options).transcode(html, url)
        out[key] = [r.content_extracted, r.title, r.content, r.content_text,
                    r.next_page_url]
    return out


def _digest(output: list) -> str:
    return hashlib.md5(json.dumps(output).encode("ascii")).hexdigest()


def _mismatches(name: str, outputs: dict[str, list]) -> list[str]:
    with open(LOCK_PATH) as f:
        pinned = json.load(f)[name]
    got = {key: _digest(o) for key, o in outputs.items()}
    return sorted(k for k in pinned.keys() | got.keys()
                  if pinned.get(k) != got.get(k))


@pytest.mark.parametrize("name", sorted(SETS))
def test_kernel_output_matches_lock(name):
    if name == "template" and not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} absent")
    bad = _mismatches(name, _outputs(name))
    assert not bad, f"{name}: {len(bad)} documents changed, e.g. {bad[:5]}"


def test_lock_fails_on_one_flipped_byte():
    outputs = _outputs("golden")
    key = sorted(outputs)[0]
    content = outputs[key][2]
    i = len(content) // 2
    outputs[key][2] = content[:i] + chr(ord(content[i]) ^ 1) + content[i + 1:]
    assert _mismatches("golden", outputs) == [key]


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python tests/test_kernel_lock.py --pin")
    lock = {name: {key: _digest(o) for key, o in _outputs(name).items()}
            for name in sorted(SETS)}
    with open(LOCK_PATH, "w") as f:
        json.dump(lock, f, indent=1, sort_keys=True)
        f.write("\n")
    print({name: len(d) for name, d in lock.items()})
