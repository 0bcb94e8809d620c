"""tools/job_timeline.py survives UI endpoint errors and reports jobs
with no completion time as unfinished."""

from __future__ import annotations

import importlib.util
import urllib.error
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _tool():
    spec = importlib.util.spec_from_file_location(
        "job_timeline", REPO / "tools" / "job_timeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job(jid, sub, end=None):
    j = {"jobId": jid, "submissionTime": f"2026-01-01T00:00:{sub:06.3f}GMT",
         "numTasks": 4, "description": f"job {jid}"}
    if end is not None:
        j["completionTime"] = f"2026-01-01T00:00:{end:06.3f}GMT"
        j["status"] = "SUCCEEDED"
    return j


def test_settled_jobs_warns_and_retries_on_url_error(monkeypatch, capsys):
    tool = _tool()
    jobs = [_job(0, 1.0, 2.0)]
    reads = iter([urllib.error.URLError("refused"), jobs, TimeoutError("slow"), jobs, jobs])

    def read(sc):
        r = next(reads)
        if isinstance(r, Exception):
            raise r
        return r

    monkeypatch.setattr(tool, "_jobs", read)
    monkeypatch.setattr(tool.time, "sleep", lambda s: None)
    assert tool.settled_jobs(None) == jobs
    err = capsys.readouterr().err
    assert err.count("retrying") == 2


def test_settled_jobs_gives_up_with_an_error_when_never_readable(monkeypatch):
    tool = _tool()

    def read(sc):
        raise urllib.error.URLError("refused")

    monkeypatch.setattr(tool, "_jobs", read)
    monkeypatch.setattr(tool.time, "sleep", lambda s: None)
    with pytest.raises(RuntimeError, match="unreadable after 40 tries"):
        tool.settled_jobs(None)


def test_timeline_reports_unfinished_jobs_without_nan():
    tool = _tool()
    out = tool.timeline("q", 5.0, [_job(1, 3.0), _job(0, 1.0, 2.5)])
    assert "nan" not in out.lower()
    assert "2 jobs (1 unfinished), job-span 1.50s" in out
    assert "| 0 | 0.00 | 1.50 | 1.50 | 0.00 | 4 | job 0 |" in out
    assert "| 1 | 2.00 | unfinished | - | 0.50 | 4 | job 1 |" in out
    none = tool.timeline("q", 5.0, [_job(0, 1.0)])
    assert "job-span none finished" in none
    assert tool.timeline("q", 1.0, []) == "## q: wall 1.00s, no jobs registered"
