"""In-memory span recording around the calls into each engine layer.

Spans come from the benchmark's own files: the benchmark opens spans
around its own calls, and ``Patches`` wraps the engine's public layer
entry points that the engine calls internally (api -> plans,
api -> sources). Nothing inside ``warpdb_spark`` is edited. Spans stay
in memory until the run ends.

Span names are ``<layer>.<what>``; a layer's self time is the part of
its spans' durations not covered by their child spans.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0
    #: py4j round trips this thread issued while the span was open,
    #: children included
    jvm_calls: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans per thread. Recording is switched per thread, so
    one client's untraced operation is never charged another's spans."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack, st.enabled, st.op_id, st.jvm_calls = [], False, None, 0
            st.last_result = None
        return st

    def recording(self) -> bool:
        return self._state().enabled

    @contextmanager
    def enabled(self, on: bool, op_id: int | None = None):
        """Switch recording for the calling thread for the block."""
        st = self._state()
        prev = st.enabled, st.op_id
        st.enabled, st.op_id = on, op_id
        try:
            yield
        finally:
            st.enabled, st.op_id = prev

    def last_result(self):
        """The value most recently returned by a wrapper created with
        ``keep_result=True`` on this thread while recording."""
        return self._state().last_result

    def inside(self, names: tuple[str, ...]) -> bool:
        stack = self._state().stack
        return bool(stack) and stack[-1].name in names

    @contextmanager
    def span(self, name: str):
        st = self._state()
        if not st.enabled:
            yield None
            return
        s = Span(
            next(self._ids),
            st.stack[-1].span_id if st.stack else None,
            st.op_id,
            name,
            time.perf_counter(),
        )
        calls0 = st.jvm_calls
        st.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jvm_calls = st.jvm_calls - calls0
            st.stack.pop()
            with self._lock:
                self.spans.append(s)

    def count_jvm_call(self) -> None:
        st = self._state()
        if st.enabled:
            st.jvm_calls += 1


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """layer -> summed self time in seconds."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.span_id]
    return dict(out)


class Patches:
    """Wraps engine entry points with spans; ``restore`` undoes it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(
        self,
        owner,
        attr: str,
        span_name: str,
        skip_inside: tuple[str, ...] = (),
        keep_result: bool = False,
    ) -> None:
        orig = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.recording() or tracer.inside(skip_inside):
                return orig(*args, **kwargs)
            with tracer.span(span_name):
                result = orig(*args, **kwargs)
            if keep_result:
                tracer._state().last_result = result
            return result

        setattr(owner, attr, wrapper)
        self._saved.append((owner, attr, orig))

    def count_jvm_calls(self, gateway_client) -> None:
        """Count py4j round trips on the gateway client every JavaObject
        sends its commands through."""
        orig = gateway_client.send_command
        tracer = self.tracer

        def send_command(*args, **kwargs):
            tracer.count_jvm_call()
            return orig(*args, **kwargs)

        gateway_client.send_command = send_command
        self._saved.append((gateway_client, "send_command", None))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._saved.clear()


def install_engine_spans(patches: Patches) -> None:
    """Wrap the engine's layer entry points (the ones the engine calls
    internally; the benchmark spans its own direct calls)."""
    from warpdb_spark import api, session
    from warpdb_spark.plans import compiler
    from warpdb_spark.sources import readers, writers

    patches.wrap(session, "get_spark", "session.get_spark")
    patches.wrap(api, "load_table", "sources.load_table")
    patches.wrap(readers, "load_table", "sources.load_table")
    patches.wrap(writers, "write_table", "sources.write_table")
    patches.wrap(api, "parse_query", "plans.parse")
    patches.wrap(api, "parse_expression", "plans.parse")
    patches.wrap(api, "build_dataframe", "plans.build")
    # compile recurses and build_dataframe calls it: span the outermost only
    patches.wrap(compiler.Compiler, "compile", "plans.build", skip_inside=("plans.build",))
    patches.wrap(api.WarpDB, "__init__", "api.open")
    patches.wrap(api.WarpDB, "attach", "api.attach")
    patches.wrap(api.WarpDB, "query", "api.query", keep_result=True)
    patches.wrap(api.WarpDB, "query_sql", "api.query_sql", keep_result=True)
    patches.wrap(api.WarpDB, "query_arrow", "api.query_arrow")
