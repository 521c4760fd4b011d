"""Spans recorded from the benchmark's own files, around calls into webx.

A span has a name, start, end, parent span and the batch and document it
belongs to. Spans stay in memory and are written as JSON at the end of the
run. A layer's self time is its span's duration minus the time its child
spans cover, and minus the wrappers' own cost (``Tracer.self_times_ns``).
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from functools import wraps


class Tracer:
    def __init__(self):
        self.spans = []  # [name, start_ns, end_ns, parent_index, batch, doc]
        self.counts = Counter()
        self.calls = Counter()
        self.self_ns = defaultdict(int)
        self.total_ns = defaultdict(int)
        self.batch = -1
        self.doc = -1
        self._stack = []  # [span_index, child_ns, children]
        self._patches = []
        self.kids = Counter()  # name -> child spans its calls had
        self.inner_ns = 0.0  # wrapper cost inside the span it records
        self.gap_ns = 0.0  # wrapper cost its parent sees outside it

    def wrap(self, name, fn, on_result=None):
        """``fn`` recording a span per call; ``on_result(result)`` may count."""

        @wraps(fn)
        def traced(*args, **kwargs):
            self.calls[name] += 1
            parent = self._stack[-1][0] if self._stack else -1
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter_ns(), 0, parent, self.batch, self.doc])
            self._stack.append([idx, 0, 0])
            try:
                res = fn(*args, **kwargs)
            finally:
                end = time.perf_counter_ns()
                span = self.spans[idx]
                span[2] = end
                _, child, kids = self._stack.pop()
                dur = end - span[1]
                self.total_ns[name] += dur
                self.self_ns[name] += dur - child
                self.kids[name] += kids
                if self._stack:
                    self._stack[-1][1] += dur
                    self._stack[-1][2] += 1
            if on_result is not None:
                on_result(res)
            return res

        return traced

    def calibrate(self, calls: int = 20000) -> None:
        """Measure the wrapper's own cost on an empty function."""
        probe = Tracer()
        noop = probe.wrap("noop", lambda: None)
        t0 = time.perf_counter_ns()
        for _ in range(calls):
            noop()
        outer = (time.perf_counter_ns() - t0) / calls
        self.inner_ns = probe.total_ns["noop"] / calls
        self.gap_ns = outer - self.inner_ns

    def self_times_ns(self) -> dict:
        """Self time per name, minus the wrappers' own cost as measured by
        ``calibrate``. Exact for leaves; a parent also carries the part of
        its children's wrappers that calibration misses."""
        return {
            name: ns - self.calls[name] * self.inner_ns - self.kids[name] * self.gap_ns
            for name, ns in self.self_ns.items()
        }

    def patch(self, obj, attr, name, on_result=None):
        """Replace ``obj.attr`` by its traced form until ``restore``."""
        self.replace(obj, attr, lambda old: self.wrap(name, old, on_result))

    def replace(self, obj, attr, make):
        """Set ``obj.attr`` to ``make(old)`` until ``restore``."""
        old = getattr(obj, attr)
        self._patches.append((obj, attr, old))
        setattr(obj, attr, make(old))

    def before(self, obj, attr, counter):
        """Advance ``self.<counter>`` before each call of ``obj.attr``."""

        def make(fn):
            @wraps(fn)
            def advance(*args, **kwargs):
                setattr(self, counter, getattr(self, counter) + 1)
                return fn(*args, **kwargs)
            return advance

        self.replace(obj, attr, make)

    def restore(self):
        while self._patches:
            obj, attr, old = self._patches.pop()
            setattr(obj, attr, old)

    def durations_ns(self, name):
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def dump(self, path, extra=None):
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start_ns", "end_ns", "parent", "batch", "doc"],
                    "spans": self.spans,
                    "self_ns": self.self_ns,
                    "total_ns": self.total_ns,
                    "counts": self.counts,
                    "calls": self.calls,
                    "kids": self.kids,
                    "wrapper_inner_ns": self.inner_ns,
                    "wrapper_gap_ns": self.gap_ns,
                    **(extra or {}),
                },
                f,
            )


# name in webx.extract (or webx.ctokenize) -> the layer its self time is
# charged to. ``extract.self`` is not summed from spans: it is the untraced
# batch total minus every other layer, because a parent's span also holds
# the cost of its children's wrappers.
EXTRACT_LAYERS = {
    "extract_batch": "extract.self",
    "_extract_doc_stage1": "extract.self",
    "_decode_spans": "extract.self",
    "normalize_input_bytes": "charset.normalize",
    "sniff_charset": "charset.sniff",
    "decode_bytes": "charset.decode",
    "normalize_charset_name": "charset.normalize",
    "detect_final": "stage1.c",
    "_finalize_runs": "stage1.py_finalize",
    "expand_spans": "stage1.py_finalize",
    "validate_spans": "stage1.py_finalize",
    "strip_norm_c": "stage2.c",
    "strip_markup_c": "stage2.c",
    "decode_span": "stage2.py",
    "decode_span_pre": "stage2.py",
    "decode_span_rawkept": "stage2.py",
    "decode_stripped": "stage2.py",
    "pre_regions": "stage2.pre_regions",
    "has_rawkept": "stage2.probe",
    "is_ascii_compatible": "stage2.probe",
}
C_KERNELS = ("detect_final", "strip_norm_c", "strip_markup_c")
_RESOLVERS = (
    "resolve_tokenizer", "resolve_tokenize_table", "resolve_strip",
    "resolve_detect_final", "resolve_strip_norm", "resolve_detect_table",
)


def _clear_resolvers():
    # the resolvers are lru_cached: without this the C kernels they
    # already returned would keep running untraced
    import webx.extract as ex

    for r in _RESOLVERS:
        getattr(ex, r).cache_clear()


def install_extract(tr: Tracer) -> None:
    """Wrap every name ``webx.extract`` calls into another layer, and the
    C kernels its resolvers hand out."""
    import webx.ctokenize as ck
    import webx.extract as ex

    def counter(key, pred=None):
        def on_result(res):
            if pred is None or pred(res):
                tr.counts[key] += 1
        return on_result

    decoded = counter("stage2.spans_decoded")
    done = counter("stage2.c_done", lambda r: bool(r[1]))
    hooks = {
        "detect_final": counter("stage1.c_final", lambda r: r[0] == "final"),
        "decode_bytes": counter("charset.fallback", lambda r: r[1] != "ok"),
        "strip_norm_c": lambda r: (decoded(r), done(r)),
        "decode_span": decoded,
        "decode_span_pre": decoded,
        "decode_span_rawkept": decoded,
    }
    for name in EXTRACT_LAYERS:
        tr.patch(ck if name in C_KERNELS else ex, name, name, hooks.get(name))
    # batch and document ids advance where extract_batch starts a batch
    # and where it starts normalizing a document's bytes
    tr.before(ex, "extract_batch", "batch")
    tr.before(ex, "normalize_input_bytes", "doc")
    _clear_resolvers()


def uninstall(tr: Tracer) -> None:
    tr.restore()
    _clear_resolvers()
