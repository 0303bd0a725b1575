"""Spans recorded from the benchmark's own files, joined with Spark's stage
counters read from the session's status store.

Each span sets the Spark job group to its own name, so every job it
starts, and every stage of that job, is attributed to it. Stage times
come from the driver's status store (the data behind the Spark UI, kept
whether or not the UI runs); nothing is added to the program.
"""

from __future__ import annotations

import contextlib
import statistics
import time


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _set_group(self, name: str | None) -> None:
        name = name or "untraced"
        self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        parent = self._open[-1]["name"] if self._open else None
        s = {"name": name, "parent": parent, "start": time.time(), "end": None,
             "counts": dict(counts)}
        self.spans.append(s)
        self._open.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            self._set_group(parent)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    @contextlib.contextmanager
    def writes_as_spans(self, names: list[str], path_names: list[str]):
        """Split the enclosing span into one child span per parquet write:
        the k-th child, named names[k], runs from the end of write k-1 to
        the end of write k (path basename path_names[k]). Used for the
        corpus chain, whose tiers each end in one table write."""
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet
        stack = contextlib.ExitStack()
        state = {"k": 0}

        def open_next() -> None:
            if state["k"] < len(names):
                stack.enter_context(self.span(names[state["k"]]))

        def traced_parquet(writer, path, *a, **kw):
            try:
                return orig(writer, path, *a, **kw)
            finally:
                k = state["k"]
                if k < len(names):
                    want = path_names[k]
                    if not str(path).rstrip("/").endswith(want):
                        raise RuntimeError(f"tier write {path!r} is not {want!r}")
                    stack.close()
                    state["k"] = k + 1
                    open_next()

        DataFrameWriter.parquet = traced_parquet
        open_next()
        try:
            yield
        finally:
            stack.close()
            DataFrameWriter.parquet = orig

    # -------------------------------------------------------------- spark
    def collect_stages(self) -> None:
        """Attach each span's completed stages (as child records) and counts."""
        store = self.sc._jsc.sc().statusStore()
        by_group: dict[str, list[int]] = {}
        n_jobs: dict[str, int] = {}
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            j = jobs.next()
            g = _opt(j.jobGroup())
            ids = j.stageIds()
            by_group.setdefault(g, []).extend(ids.apply(i) for i in range(ids.size()))
            n_jobs[g] = n_jobs.get(g, 0) + 1
        for s in self.spans:
            s["jobs"] = n_jobs.get(s["name"], 0)
            stages = []
            for sid in sorted(set(by_group.get(s["name"], []))):
                st = store.lastStageAttempt(sid)
                sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
                if sub is None or done is None:
                    continue  # skipped: its output was reused
                durs = []
                tasks = store.taskList(sid, st.attemptId(), 1_000_000).iterator()
                while tasks.hasNext():
                    durs.append(_opt(tasks.next().duration(), 0) / 1e3)
                stages.append({
                    "name": f"stage {sid}",
                    "parent": s["name"],
                    "start": sub.getTime() / 1e3,
                    "end": done.getTime() / 1e3,
                    "counts": {
                        "tasks": st.numTasks(),
                        "task_s": st.executorRunTime() / 1e3,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "input_bytes": st.inputBytes(),
                        "output_bytes": st.outputBytes(),
                        "task_max_s": max(durs, default=0.0),
                        "task_median_s": statistics.median(durs) if durs else 0.0,
                    },
                })
            s["stages"] = stages

    def subtree(self, name: str) -> list[dict]:
        """Span `name` and every span below it."""
        out, todo = [], [name]
        while todo:
            out.append(self.get(todo.pop()))
            todo += [s["name"] for s in self.spans if s["parent"] == out[-1]["name"]]
        return out

    def tree_stages(self, name: str) -> list[dict]:
        """Stages of span `name` and of all spans below it."""
        return [st for s in self.subtree(name) for st in s.get("stages", [])]

    def summary(self, name: str) -> dict:
        """Wall, time covered by stages, and summed counters of a subtree."""
        s = self.get(name)
        stages = self.tree_stages(name)
        c = {k: sum(st["counts"][k] for st in stages)
             for k in ("tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes")}
        wall = s["end"] - s["start"]
        covered = covered_s(stages, s["start"], s["end"])
        jobs = sum(x.get("jobs", 0) for x in self.subtree(name))
        return {"wall_s": wall, "stage_s": covered, "gap_s": wall - covered,
                "jobs": jobs, "stages": len(stages), **c}

    def artifact(self) -> list[dict]:
        """Every span and stage: name, start, end, parent, counts."""
        out = []
        for s in self.spans:
            out.append({k: s[k] for k in ("name", "start", "end", "parent", "counts")})
            out += s.get("stages", [])
        return out


def covered_s(stages: list[dict], lo: float, hi: float) -> float:
    """Length of the union of stage intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for st in sorted(stages, key=lambda x: x["start"]):
        a, b = max(st["start"], lo), min(st["end"], hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            total += (cur_b - cur_a) if cur_b is not None else 0.0
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
