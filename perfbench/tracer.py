"""In-memory spans recorded around calls into the package's layers.

A span is ``(id, parent, run, name, start, end, attrs)``. Spans stay in
a list until :meth:`Tracer.dump` writes them out as JSON lines at the
end of a run; per-layer metrics are computed from them
(:meth:`Tracer.durations`). A disabled tracer records nothing and its
``span`` is a no-op context manager, so the untraced runs that give the
end-to-end metrics pay one attribute check per call site.

Calls the benchmark does not make itself (the ``TxTable`` commits a
streaming micro-batch makes on Spark's callback thread, the snapshot
resolution inside ``merge``/``read``) are reached by wrapping those
public methods for the duration of a traced run (:meth:`Tracer.wrap`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list = []
        #: parent for spans opened on a thread with no open span (Spark's
        #: foreachBatch callbacks): the outermost span open on the main
        #: thread
        self.fallback_parent: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else self.fallback_parent
        outermost = not st and threading.current_thread() is threading.main_thread()
        if outermost:
            self.fallback_parent = sid
        st.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            st.pop()
            if outermost:
                self.fallback_parent = None
            self.spans.append({"id": sid, "parent": parent, "run": self.run_id,
                               "name": name, "start": start, "end": end,
                               "attrs": attrs})

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext(attrs)
        return self._record(name, attrs)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` made while
        the tracer is enabled, until :meth:`unwrap`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            if not self.enabled:
                return orig(*a, **kw)
            with self._record(name, {}):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


#: A tracer that never records, for passes that are not measured
#: (warm-up, single-core baseline).
OFF = Tracer(False, "off")
