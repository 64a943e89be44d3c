"""Non-relational API surface parity (SURVEY.md §2.6 Q6-Q8, §2.1 S2).

The reference exposes these through Akka HTTP routes; they are thin
service-layer features, not data operators, so here they are plain
Python with Spark underneath:

* Q6 — async job submission/status: the reference keeps an in-memory
  ConcurrentHashMap and marks jobs SUCCEEDED immediately
  (api/routes/JobsRoute.scala:23-138).  Ours actually runs the query
  in a daemon thread against the live SparkSession and tracks real
  state transitions.
* Q7 — explain: the reference returns a hard-coded mock plan
  (api/routes/ExplainRoute.scala:23-54).  Ours returns Catalyst's real
  formatted physical plan — strictly better, as SURVEY notes.
* Q8 — health: constant OK (api/ApiServer.scala:52-56).
"""

from __future__ import annotations

import io
import threading
import uuid
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# per-request state (jobs, request traces) keeps only the newest
# MAX_TRACKED entries, so a long-running server's memory stays bounded
MAX_TRACKED = 1024


def put_newest(d: dict, key, value, lock: threading.Lock) -> None:
    """``d[key] = value``, then evict the oldest entries beyond
    ``MAX_TRACKED`` (dicts iterate in insertion order)."""
    with lock:
        d[key] = value
        while len(d) > MAX_TRACKED:
            del d[next(iter(d))]


@dataclass
class JobStatus:
    job_id: str
    state: str = "PENDING"  # PENDING -> RUNNING -> SUCCEEDED | FAILED
    rows: int | None = None
    error: str | None = None
    result: list | None = None
    _done: threading.Event = field(default_factory=threading.Event, repr=False)


class JobRegistry:
    """Q6: submit a DataFrame-producing thunk, poll its status."""

    def __init__(self):
        self._jobs: dict[str, JobStatus] = {}
        self._lock = threading.Lock()

    def submit(self, make_df, max_rows: int = 1000) -> str:
        job_id = str(uuid.uuid4())
        status = JobStatus(job_id)
        put_newest(self._jobs, job_id, status, self._lock)

        def run():
            status.state = "RUNNING"
            try:
                rows = make_df().limit(max_rows).collect()
                status.result = rows
                status.rows = len(rows)
                status.state = "SUCCEEDED"
            except Exception as e:  # surfaced via status, like the API's 500s
                status.error = f"{type(e).__name__}: {e}"
                status.state = "FAILED"
            finally:
                status._done.set()

        threading.Thread(target=run, daemon=True).start()
        return job_id

    def status(self, job_id: str) -> JobStatus | None:
        return self._jobs.get(job_id)

    def wait(self, job_id: str, timeout: float | None = None) -> JobStatus:
        s = self._jobs[job_id]
        s._done.wait(timeout)
        return s


def explain_trace(df: DataFrame) -> dict:
    """Q7: the real plan, not a mock — formatted physical plan plus the
    logical-plan node list."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    steps = [
        line.split(" ", 2)[-1].strip()
        for line in plan.splitlines()
        if line.strip().startswith(("*", "+", "-")) and "(" in line
    ]
    return {"physical_plan": plan, "steps": steps[:20]}


def health() -> str:
    """Q8."""
    return "OK"
