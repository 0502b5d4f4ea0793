"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent and the id of the benchmark op
that caused it. Spans come from two places, both in the benchmark's own
files: ``Tracer.span`` blocks around the benchmark's calls into the
package, and ``Tracer.wrap``, which replaces a public function at the
module or class attribute its callers resolve (``dedup.scratch_persist``
as well as ``_scratch.scratch_persist``) and restores it on ``unwrap_all``.

Each span tags the Spark jobs it submits with its own job group, so
``job_counts`` reads jobs, stages and tasks per span from the public
status tracker once the op has finished.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

_JOB_GROUP = "spark.jobGroup.id"
_MISSING = object()


@dataclass
class Span:
    id: int
    op: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``active``; when inactive every span and
    wrapper is a pass-through, so untraced ops pay one attribute test."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self._op = -1

    # ------------------------------------------------------------ spans

    def parent_name(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_JOB_GROUP, None if span is None else f"pb-{span.id}")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            op=self._op,
            parent=None if parent is None else parent.id,
            name=name,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def op(self, name: str, traced: bool):
        """Root span of one benchmark op; ``traced`` switches tracing on
        for its duration."""
        self.active = traced
        if traced:
            self._op += 1
        try:
            with self.span(name) as s:
                yield s
        finally:
            self.active = False

    def op_spans(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.op == root.op]

    # ---------------------------------------------------------- wrapping

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str | Callable[[], str],
        on_return: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``name`` may be a
        callable evaluated per call (to name a span by its parent); when it
        returns None the call gets no span of its own."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name() if callable(name) and tracer.active else name
            if not tracer.active or span_name is None:
                return orig(*args, **kwargs)
            with tracer.span(span_name) as s:
                out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(s, args, kwargs, out)
                return out

        self._patches.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ output

    def job_counts(self, spans: list[Span], timeout_s: float = 10.0) -> None:
        """Set ``jobs``/``stages``/``tasks``/``failed_tasks`` in each span's
        attrs, for the jobs submitted directly under it. Waits (bounded) for
        the status tracker to see every job end: it is fed asynchronously
        by the listener bus."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for s in spans:
            job_ids = tracker.getJobIdsForGroup(f"pb-{s.id}")
            jobs = []
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                while (info is None or info.status in ("RUNNING", "UNKNOWN")) and (
                    time.monotonic() < deadline
                ):
                    time.sleep(0.01)
                    info = tracker.getJobInfo(jid)
                if info is not None:
                    jobs.append(info)
            stages = tasks = failed = 0
            for info in jobs:
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            s.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "op": s.op,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "attrs": {k: v for k, v in s.attrs.items() if _jsonable(v)},
                        }
                    )
                    + "\n"
                )


def _jsonable(v: Any) -> bool:
    return isinstance(v, (int, float, str, bool)) or v is None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its child spans cover. Children of
    one span run one after another on the driver thread, so the covered
    time is the sum of their durations."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + s.duration
    return {s.id: s.duration - covered.get(s.id, 0.0) for s in spans}


def descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out
