"""Every registered query must PLAN on a default-conf SparkSession.

The correctness driver runs queries() on ITS session, not the engine's
``session.py`` factory — so any query whose plan silently depends on a
builder conf passes the local parity mirror and fails under the driver
(CORRECTNESS r12: `format_roundtrip_counts` needed
``spark.sql.python.filterPushdown.enabled`` which only session.py set).
This sweep closes the class: a subprocess builds a bare session (its own
JVM, so no conf inheritance from the pytest SparkContext) and forces
physical planning for all queries() entries.

Stream/CDC callables execute work internally while being constructed —
that runs on the bare session too, which is the point: the engine must
set every conf it needs on whatever session it is handed.
"""

from __future__ import annotations

import atexit
import json
import os
import subprocess
import sys
import tempfile

_WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_bare_conf_sweep.py")
_run: tuple | None = None


def start_sweep() -> tuple:
    """Launch the worker once; returns ``(process, stdout file, stderr
    file)``.  ``conftest.py`` calls this as soon as the test is selected,
    so the worker's own JVM (about ten minutes of planning and stream
    construction) runs beside the rest of the suite instead of after it,
    and the test then only waits for its report.  Output goes to files,
    not pipes: nobody drains a pipe until the test runs, and a full one
    would stall the worker."""
    global _run
    if _run is None:
        out, err = tempfile.TemporaryFile("w+"), tempfile.TemporaryFile("w+")
        proc = subprocess.Popen(
            [sys.executable, _WORKER],
            stdout=out,
            stderr=err,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        atexit.register(proc.kill)  # a no-op once the worker has exited
        _run = (proc, out, err)
    return _run


def test_all_queries_plan_on_default_conf_session():
    proc, out, err = start_sweep()
    try:
        proc.wait(timeout=3600)
    finally:
        proc.kill()
    out.seek(0)
    err.seek(0)
    stdout, stderr = out.read(), err.read()
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    assert lines, f"worker produced no report (rc={proc.returncode}):\n{stderr[-4000:]}"
    report = json.loads(lines[-1])
    assert report["n"] > 250, f"sweep only covered {report['n']} queries"
    assert not report["failures"], (
        "queries that fail to plan on a default-conf session:\n"
        + "\n".join(f"--- {k}\n{v}" for k, v in report["failures"].items())
    )
