"""In-process spans around the readability kernel's public functions.

``KernelTracer`` wraps the functions below for the duration of a ``with``
block. Each call records its duration and the span that called it, so a
layer's self time is its duration minus the time of its child spans. The
wrappers sit at the module attributes the kernel calls through
(``parser.build_document``, ``uri.resolve_element_url``, the
``Transcoder`` methods and ``transcoder.serialize_document``) and are
removed on exit. Spans stay in memory; ``summary`` reduces them to
per-document figures.
"""

from __future__ import annotations

import time
from collections import defaultdict

# span name -> (module path, attribute path)
TARGETS = {
    "parser": ("nreadability_spark.readability.parser", "build_document"),
    "encoding": ("nreadability_spark.readability.encoding",
                 "decode_html_bytes"),
    "uri": ("nreadability_spark.readability.uri", "resolve_element_url"),
    "serialize": ("nreadability_spark.readability.transcoder",
                  "serialize_document"),
    "transcode": ("nreadability_spark.readability.transcoder",
                  "Transcoder.transcode_to_xml"),
    "prepare": ("nreadability_spark.readability.transcoder",
                "Transcoder.prepare_document"),
    "next_page": ("nreadability_spark.readability.transcoder",
                  "Transcoder.find_next_page_link"),
    "title": ("nreadability_spark.readability.transcoder",
              "Transcoder.extract_article_title"),
    "content": ("nreadability_spark.readability.transcoder",
                "Transcoder.extract_article_content"),
    "glue": ("nreadability_spark.readability.transcoder",
             "Transcoder.glue_document"),
    "inner_text": ("nreadability_spark.readability.transcoder",
                   "Transcoder.get_inner_text"),
}


class KernelTracer:
    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.total_ns: dict[str, int] = defaultdict(int)
        self.child_ns: dict[str, int] = defaultdict(int)
        self.calls_by_parent: dict[tuple[str, str], int] = defaultdict(int)
        self._stack: list[list] = []  # [name, children_ns]
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack
            parent = stack[-1][0] if stack else ""
            frame = [name, 0]
            stack.append(frame)
            t0 = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter_ns() - t0
                stack.pop()
                tracer.calls[name] += 1
                tracer.calls_by_parent[(name, parent)] += 1
                tracer.total_ns[name] += dur
                tracer.child_ns[name] += frame[1]
                if stack:
                    stack[-1][1] += dur

        traced.__wrapped__ = fn
        return traced

    def __enter__(self):
        import importlib
        for name, (mod_name, attr) in TARGETS.items():
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = owner.__dict__[leaf]
            self._saved.append((owner, leaf, original))
            setattr(owner, leaf, self._wrap(name, original))
        return self

    def __exit__(self, *exc):
        for owner, leaf, original in reversed(self._saved):
            setattr(owner, leaf, original)
        self._saved.clear()
        return False

    def self_ms(self, name: str) -> float:
        return (self.total_ns[name] - self.child_ns[name]) / 1e6

    def summary(self, docs: int) -> dict[str, float]:
        """Per-document figures over ``docs`` traced documents."""
        per = 1.0 / docs
        doc_parses = sum(n for (name, parent), n in self.calls_by_parent.items()
                         if name == "parser" and parent == "transcode")
        # transcode_to_xml calls itself once for the thin-content re-run
        reruns = self.calls_by_parent[("transcode", "transcode")]
        out = {
            "parser.self_ms_per_doc": self.self_ms("parser") * per,
            "parser.calls_per_doc": self.calls["parser"] * per,
            "parser.doc_parses_per_doc": doc_parses * per,
            "parser.fragment_parses_per_doc":
                (self.calls["parser"] - doc_parses) * per,
            "transcoder.fallback_rate": reruns * per,
            "transcoder.inner_text_calls_per_doc":
                self.calls["inner_text"] * per,
            "encoding.self_ms_per_doc": self.self_ms("encoding") * per,
            "uri.self_ms_per_doc": self.self_ms("uri") * per,
            "uri.calls_per_doc": self.calls["uri"] * per,
        }
        for name in ("transcode", "prepare", "next_page", "title", "content",
                     "glue", "inner_text", "serialize"):
            out[f"transcoder.{name}_self_ms_per_doc"] = self.self_ms(name) * per
        return out
