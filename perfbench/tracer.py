"""In-memory span tracer for the traced benchmark run.

Timing wrappers are patched onto the module attribute each caller looks
up at call time (``queries.load_table`` as well as ``io.load_table``,
because ``queries`` imports it by bare name). A wrapper records a span
and passes arguments and return values through unchanged;
``Tracer.uninstall`` restores the originals.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from dataclasses import dataclass

__all__ = ["Tracer", "SpanRecord", "layer_totals", "tree_bytes"]


@dataclass
class SpanRecord:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    query: str | None  # the query call this span ran under
    outermost: bool  # no enclosing span of the same layer


def tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out: dict[str, tuple[int, int]] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[SpanRecord] = []
        self.query: str | None = None  # current query call (one client)
        self.query_span: int | None = None
        self.files = Counter()  # index.files_written / index.bytes_written
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # index dir -> (open spans writing it, snapshot before the first)
        self._dirs: dict[str, tuple[int, dict]] = {}

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        # pool threads (io_sinks.run_concurrently) start with an empty
        # stack; their parent is the query call that spawned them
        parent = stack[-1] if stack else self.query_span
        with self._lock:
            outermost = True
            p = parent
            while p is not None:
                if self.spans[p].layer == layer:
                    outermost = False
                    break
                p = self.spans[p].parent
            self.spans.append(SpanRecord(name, layer, time.time(), 0.0, parent, self.query, outermost))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def begin_query(self, name: str) -> None:
        self.query = name
        self.query_span = self.begin(name, "query")

    def end_query(self) -> None:
        self.end(self.query_span)
        self.query = None
        self.query_span = None

    # ------------------------------------------------------------ wrapping
    def wrap(self, module, attr: str, layer: str, path_arg: int | None = None) -> None:
        """Patch ``module.attr`` with a timing wrapper. ``path_arg`` names
        the positional argument holding an index directory whose new
        files are counted."""
        orig = getattr(module, attr)
        tracer = self
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def wrapper(*args, **kwargs):
            path = args[path_arg] if path_arg is not None and len(args) > path_arg else None
            if path is not None:
                tracer._dir_enter(path)
            idx = tracer.begin(name, layer)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)
                if path is not None:
                    tracer._dir_exit(path)

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        wrapper.__doc__ = getattr(orig, "__doc__", None)
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # Concurrent appends to one index overlap; snapshot the directory once
    # when the first writer enters and diff when the last one leaves, so
    # no file is counted twice.
    def _dir_enter(self, path: str) -> None:
        with self._lock:
            n, snap = self._dirs.get(path, (0, None))
            if n == 0:
                snap = tree_bytes(path)
            self._dirs[path] = (n + 1, snap)

    def _dir_exit(self, path: str) -> None:
        with self._lock:
            n, snap = self._dirs[path]
            if n > 1:
                self._dirs[path] = (n - 1, snap)
                return
            del self._dirs[path]
            after = tree_bytes(path)
        new = [v for k, v in after.items() if snap.get(k) != v]
        self.files["index.files_written"] += len(new)
        self.files["index.bytes_written"] += sum(size for size, _ in new)


def layer_totals(spans: list[SpanRecord]) -> tuple[Counter, Counter]:
    """Seconds and call counts per span name, outermost spans only."""
    secs: Counter = Counter()
    calls: Counter = Counter()
    for s in spans:
        if s.outermost:
            secs[s.name] += s.end - s.start
            calls[s.name] += 1
    return secs, calls
