"""``functions.concurrent.overlap`` is the package's only thread starter,
and sessions are never reconfigured while queries run.

The guard below walks the package source: ``ThreadPoolExecutor``,
``threading.Thread`` and ``InheritableThread`` may appear only in
``functions/concurrent.py``, and ``.conf.set(`` / ``.conf.unset(`` only
in the allow-listed functions.
"""

from __future__ import annotations

import ast
import pathlib
import threading

import pytest

import datafoundation_multi_source_retail_data_integration_hub_spark as pkg
from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
    overlap,
)

PKG = pathlib.Path(pkg.__file__).parent
THREAD_HOME = "functions/concurrent.py"
THREAD_NAMES = {"ThreadPoolExecutor", "InheritableThread"}
# (file, function) -> why that function may set confs on a session
CONF_SET_ALLOWED = {
    ("session.py", "child_session"): "configures the child it just created",
    ("sources/tables.py", "load_table"): (
        "idempotent reader confs: every session reading the corpus needs "
        "the same values and no query needs others"
    ),
    ("streaming/pipelines.py", "events_stream"): (
        "the same idempotent reader confs, for the events file stream"
    ),
}


def _violations(root: pathlib.Path) -> list[str]:
    out = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        funcs: list[tuple[int, int, str]] = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef | ast.AsyncFunctionDef)
        ]

        def enclosing(line: int) -> str | None:
            inside = [f for f in funcs if f[0] <= line <= f[1]]
            # innermost function: the latest start
            return max(inside)[2] if inside else None

        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if rel != THREAD_HOME:
                names = set()
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                    if (
                        node.attr == "Thread"
                        and isinstance(node.value, ast.Name)
                        and node.value.id == "threading"
                    ):
                        names.add("threading.Thread")
                elif isinstance(node, ast.ImportFrom):
                    for alias in node.names:
                        names.add(alias.name)
                        if node.module == "threading" and alias.name == "Thread":
                            names.add("threading.Thread")
                for hit in sorted(names & (THREAD_NAMES | {"threading.Thread"})):
                    out.append(f"{where}: {hit} outside {THREAD_HOME}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and (rel, enclosing(node.lineno)) not in CONF_SET_ALLOWED
            ):
                out.append(f"{where}: .conf.{node.func.attr}( outside the allow-list")
    return out


def test_threads_and_conf_mutation_only_in_their_homes():
    assert _violations(PKG) == []


def test_guard_catches_a_pool_a_thread_and_a_conf_set(tmp_path):
    """The walk really sees the forms it forbids."""
    (tmp_path / "queries").mkdir()
    (tmp_path / "queries" / "bad.py").write_text(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "import threading\n"
        "def q(spark):\n"
        "    threading.Thread(target=print).start()\n"
        "    spark.conf.unset('spark.sql.shuffle.partitions')\n"
    )
    found = _violations(tmp_path)
    assert any("ThreadPoolExecutor" in v for v in found), found
    assert any("threading.Thread" in v for v in found), found
    assert any(".conf.unset(" in v for v in found), found


def test_overlap_returns_results_in_order():
    assert overlap(lambda: 1, lambda: "b", lambda: None) == [1, "b", None]
    assert overlap() == []


def test_overlap_threads_carry_the_job_description(spark):
    """Jobs started inside a thunk carry the caller's description, so
    they can be attributed to the query that launched them."""
    sc = spark.sparkContext
    sc.setJobDescription("overlap-attribution")
    try:
        seen = overlap(
            lambda: sc.getLocalProperty("spark.job.description"),
            lambda: sc.getLocalProperty("spark.job.description"),
        )
        group = "overlap-attribution-group"
        sc.setJobGroup(group, "overlap-attribution")
        overlap(lambda: spark.range(10).count())
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen == ["overlap-attribution", "overlap-attribution"]
    assert job_ids  # the thunk's job is in the caller's group


def test_overlap_reraises_after_every_thunk_finishes():
    finished = threading.Event()

    def slow_ok():
        finished.wait(5)
        return "done"

    def boom():
        try:
            raise ValueError("thunk failed")
        finally:
            finished.set()

    done = []
    with pytest.raises(ValueError, match="thunk failed"):
        overlap(lambda: done.append(slow_ok()), boom)
    assert done == ["done"]  # the other thunk ran to completion first


def test_overlap_reraises_the_first_failure_in_argument_order():
    def fail(msg):
        raise RuntimeError(msg)

    with pytest.raises(RuntimeError, match="first"):
        overlap(lambda: fail("first"), lambda: fail("second"))
