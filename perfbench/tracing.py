"""Spans recorded from outside the program, plus Spark job attribution.

``Tracer.install()`` wraps public functions of the layers (class attributes
of ``LakeTable`` and ``CdcEngine``, module attributes the callers look up at
call time) with span recorders; ``uninstall()`` restores them, except the
maintenance calls (compaction, snapshot expiry): they are rare, cheap to
wrap, and fire after whichever commit crosses the policy's threshold, so
they stay traced until ``uninstall(everything=True)``.  Spans live in
memory until ``write()``.  Spark jobs and stages are read once at the end from
the status store, which is filled even with the UI disabled; jobs launched by
the engine's staging threads carry no job group, so every job is attributed
by the time window of the spans it falls in.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

import magneto_matcher_spark.operators.profile as profile_mod
import magneto_matcher_spark.plans.matcher as matcher_mod
import magneto_matcher_spark.streaming.engine as engine_mod
from magneto_matcher_spark.sources.lake import LakeTable


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _entries(table: LakeTable) -> list[dict]:
    return table.manifest(table.current_snapshot())


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.trace_id = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # ---------------- spans ----------------

    def begin(self, name: str, **attrs) -> int:
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else getattr(self._local, "root", None)
        with self._lock:
            self.spans.append(
                Span(name, time.time(), parent=parent, trace_id=self.trace_id, attrs=attrs)
            )
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        self.spans[idx].end = time.time()
        self.spans[idx].attrs.update(attrs)
        self._local.stack.pop()

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.begin(name, **attrs)
                return self

            def __exit__(self, *exc):
                tracer.end(self.idx)

        return _Ctx()

    # ---------------- layer wrappers ----------------

    def _wrap(self, owner, attr: str, name: str, before=None, after=None,
              keep: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            pre = before(*args) if before else {}
            # threads of the engine's staging pool start with an empty stack:
            # parent their spans to the replay span that started the pool
            if threading.current_thread() is not threading.main_thread():
                tracer._local.root = tracer._open_replay
            idx = tracer.begin(name, **{k: v for k, v in pre.items() if k[0] != "_"})
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if after:
                tracer.spans[idx].attrs.update(after(args, out, pre))
            return out

        self._saved.append((owner, attr, fn, keep))
        setattr(owner, attr, wrapper)

    _open_replay: int | None = None

    @property
    def active(self) -> bool:
        return any(not keep for *_, keep in self._saved)

    def install(self) -> None:
        tracer = self

        def replay_before(engine, *_):
            tracer._open_replay = len(tracer.spans)
            return {}

        def manifest_paths(table, *_):
            return {"_before": {e["path"] for e in _entries(table)}}

        def new_files(args, out, pre):
            table, before = args[0], pre["_before"]
            paths = [e["path"] for e in _entries(table) if e["path"] not in before]
            return _file_stats(table.root, paths)

        def staged_files(args, out, pre):
            return _file_stats(args[0].root, [e["path"] for e in out])

        def merge_after(args, out, pre):
            table = args[0]
            stats = new_files(args, out, pre)
            summ = table.summary(out)
            stats["rewrite_rows"] = int(summ.get("rows-written", 0)) if int(
                summ.get("buckets-rewritten", 0)
            ) else 0
            return stats

        def read_before(table, *_):
            return {
                "delta_files": sum(
                    1 for e in _entries(table) if e.get("kind", "data") == "delta"
                )
            }

        self._wrap(engine_mod.CdcEngine, "replay", "engine.replay", before=replay_before)
        self._wrap(engine_mod.CdcEngine, "apply_batch", "engine.apply_batch",
                   after=lambda args, out, pre: {"events": int(out.get("events_in", 0))})
        self._wrap(engine_mod, "normalize_payload", "apply.normalize_payload")
        self._wrap(engine_mod, "dedup_max_lsn", "apply.dedup_max_lsn")
        self._wrap(LakeTable, "stage_delta", "lake.stage_delta", after=staged_files)
        self._wrap(LakeTable, "commit_delta", "lake.commit_delta")
        self._wrap(LakeTable, "merge", "lake.merge", before=manifest_paths, after=merge_after)
        if not any(keep for *_, keep in self._saved):
            self._wrap(LakeTable, "compact", "lake.compact", before=manifest_paths,
                       after=new_files, keep=True)
            self._wrap(LakeTable, "expire_snapshots", "lake.expire_snapshots", keep=True)
        self._wrap(LakeTable, "read", "lake.read", before=read_before)
        self._wrap(matcher_mod, "get_matches", "matcher.get_matches")
        self._wrap(matcher_mod, "matcher_drift_resolver", "matcher.drift_resolve")
        self._wrap(matcher_mod, "profile_rows_multi", "profile.profile_rows_multi")
        self._wrap(profile_mod, "profile_rows_multi", "profile.profile_rows_multi")

    def uninstall(self, everything: bool = False) -> None:
        kept = []
        for owner, attr, fn, keep in reversed(self._saved):
            if keep and not everything:
                kept.insert(0, (owner, attr, fn, keep))
            else:
                setattr(owner, attr, fn)
        self._saved = kept

    # ---------------- output ----------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length(
                [(c.start, c.end) for c in children.get(i, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def write(self, path: str, jobs: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                     "end": s.end, "parent": s.parent,
                                     "trace_id": s.trace_id, "attrs": s.attrs},
                                    default=str) + "\n")
            for j in jobs:
                fh.write(json.dumps({"job": j}) + "\n")


def _file_stats(root: str, rel_paths: list[str]) -> dict:
    return {
        "files": len(rel_paths),
        "bytes": sum(os.path.getsize(os.path.join(root, p)) for p in rel_paths),
    }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_jobs(spark) -> list[dict]:
    """Every finished job in the status store with its stages' metrics."""
    store = spark._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):  # scala Seq
        j = jobs.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        group = j.jobGroup()
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            stages.append({
                "run_s": st.executorRunTime() / 1000.0,
                "shuffle_write": st.shuffleWriteBytes(),
                "shuffle_read": st.shuffleReadBytes(),
                "spill": st.memoryBytesSpilled(),
            })
        desc = j.description()
        out.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "phase": desc.get() if desc.isDefined() else None,
            "start": sub.get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
            "stages": stages,
        })
    return out
