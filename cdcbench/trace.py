"""Traced run support: spans around public calls, Spark status API reads,
and job attribution.

Spans are recorded by the benchmark around calls into the program's public
methods (``wrap``) and around its own phases (``span``). Each span records
name, start, end, parent and run id, and stays in memory until ``dump``.

After the run, ``status_api`` reads the driver's ``/jobs``, ``/stages`` and
``/sql`` endpoints, and ``attribute`` assigns every job to the innermost
span open at the job's submission time. Spark's own call sites cannot be
used: jobs submitted under ``foreachBatch`` carry py4j frames.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

# ---------------------------------------------------------------- spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        # a span opened on a callback thread (foreachBatch runs on a py4j
        # thread) is caused by the benchmark phase open on the main thread
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run": self.run}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a span-recording instance attribute."""
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------- status API


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def status_api(spark) -> dict:
    """Jobs, stages and SQL executions of this application from the
    driver's status API (served by the UI, so ``spark.ui.enabled=true``)."""
    sc = spark.sparkContext
    port = re.search(r":(\d+)$", sc.uiWebUrl.rstrip("/")).group(1)
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    # the status store is fed by the listener bus: wait until it settles
    prev = None
    for _ in range(20):
        jobs = _get(f"{base}/jobs")
        n = (len(jobs), sum(j.get("status") == "RUNNING" for j in jobs))
        if n == prev and n[1] == 0:
            break
        prev = n
        time.sleep(0.5)
    stages = _get(f"{base}/stages")
    sql = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


def parse_time(s: str | None) -> float | None:
    """UTC timestamp of the status API ('2026-01-01T00:00:00.123GMT') or of
    streaming progress ('2026-01-01T00:00:00.123Z') -> epoch seconds."""
    if not s:
        return None
    return _dt.datetime.strptime(s.removesuffix("GMT").removesuffix("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(value: str) -> float:
    """SQL metric value string -> number (seconds, bytes or a count).

    Timing and size metrics render as 'total (min, med, max ...)\\n<total>
    (...)'; plain counts render as '1,234'."""
    lines = value.strip().split("\n")
    text = lines[1] if len(lines) > 1 else lines[0]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


# ------------------------------------------------------- attribution


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, int | None]:
    """job id -> id of the innermost span open at the job's submission."""
    closed = [s for s in spans if s["end"] is not None]
    out = {}
    for j in jobs:
        t = parse_time(j.get("submissionTime"))
        best = None
        if t is not None:
            for s in closed:
                if s["start"] <= t < s["end"] and (best is None or s["start"] >= best["start"]):
                    best = s
        out[j["jobId"]] = best["id"] if best else None
    return out


def descendants(spans: list[dict], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out, todo = {root}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class JobIndex:
    """Jobs and their completed stages, grouped by the span they ran under."""

    def __init__(self, spans: list[dict], api: dict) -> None:
        self.jobs = {j["jobId"]: j for j in api["jobs"]}
        self.owner = attribute(spans, api["jobs"])
        self.stages: dict[int, list[dict]] = {}
        for st in api["stages"]:
            if st.get("status") == "COMPLETE":
                self.stages.setdefault(st["stageId"], []).append(st)
        self.sql = api["sql"]
        self.udf_raw: list[tuple] = []

    def jobs_under(self, span_ids: set[int]) -> list[dict]:
        return [self.jobs[j] for j, s in self.owner.items() if s in span_ids]

    def stage_sum(self, jobs: list[dict], field: str) -> float:
        seen, total = set(), 0.0
        for j in jobs:
            for sid in j.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                total += sum(st.get(field, 0) or 0 for st in self.stages.get(sid, []))
        return total

    def n_stages(self, jobs: list[dict]) -> int:
        return len({sid for j in jobs for sid in j.get("stageIds", []) if sid in self.stages})

    def intervals(self, jobs: list[dict]) -> list[tuple[float, float]]:
        out = []
        for j in jobs:
            a = parse_time(j.get("submissionTime"))
            b = parse_time(j.get("completionTime"))
            if a is not None and b is not None:
                out.append((a, b))
        return out

    def python_udf_metrics(self, span_ids: set[int]) -> dict[str, float]:
        """Sum of the Python-UDF SQL metrics of every ArrowEvalPython node
        in SQL executions whose jobs ran under ``span_ids``."""
        owned_jobs = {j for j, s in self.owner.items() if s in span_ids}
        names = {
            "time to run Python workers": "python_s",
            "number of output rows": "rows",
            "data sent to Python workers": "bytes_sent",
            "data returned from Python workers": "bytes_returned",
            "time to start Python workers": "worker_start_s",
        }
        out = {v: 0.0 for v in names.values()}
        for ex in self.sql:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & owned_jobs:
                continue
            for node in ex.get("nodes", []):
                if "ArrowEvalPython" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    key = names.get(m.get("name"))
                    if key:
                        out[key] += parse_metric(m.get("value", "0"))
                        self.udf_raw.append((ex.get("id"), m.get("name"), m.get("value")))
        return out
