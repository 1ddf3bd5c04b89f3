"""Crash harness for the durable commit: every statement publishes one
snapshot, so a failure at any step of its commit leaves the directory
holding the graph from before the statement or the graph after it, never
a mix, and the writing engine holds the same graph as a reopen.

The statements cover each commit shape: a CREATE in which both tables
only gain rows, a SET (one table loses rows), a DETACH DELETE (both
tables lose rows) and a DROP LABEL (a label is emptied). A clean run of
the sequence records each statement's commit steps: each Spark table
write (Graph._table_writer), the first hard link into each table, the
catalog.json rename and each removal of a directory. Then each step of each
statement raises in turn, on a fresh copy of the directory from before
the statement. Graphs are compared as raw table rows: a pattern match
would hide a dangling edge."""

import json
import os
import shutil

import pytest

from postgraph_spark.engine import CypherEngine
from postgraph_spark.graph import Graph, GraphCatalog

SETUP = "CREATE (:s {k: 9})"

#: (test id, statement), run in this order
STATEMENTS = [
    ("create", "CREATE (:p {k: 1})-[:r]->(:q {k: 2})"),
    ("set", "MATCH (n:q) SET n.x = 1"),
    ("detach_delete", "MATCH (n:p) DETACH DELETE n"),
    ("drop_label", "DROP LABEL q"),
]


def _open(spark, root: str) -> CypherEngine:
    eng = CypherEngine(spark, GraphCatalog(spark, root=root))
    eng.execute("USE GRAPH crash")
    return eng


def _rows(g: Graph) -> tuple[list, list]:
    """Every stored vertex and edge row, sorted."""
    return (
        sorted(map(tuple, g.vertices.select("id", "label", "properties").collect())),
        sorted(map(tuple, g.edges.select("id", "start_id", "end_id", "label", "properties").collect())),
    )


class _Steps:
    """Records the commit steps a statement takes and raises OSError at
    step `fail_at` (None: never)."""

    def __init__(self, mp: pytest.MonkeyPatch, fail_at: int | None = None):
        self.names: list[str] = []
        self.fail_at = fail_at
        writer, link, replace, rmtree = Graph._table_writer, os.link, os.replace, shutil.rmtree
        linked: set[str] = set()

        def table_writer(df, kind):
            self._step(f"write {kind}")
            return writer(df, kind)

        def os_link(src, dst, *args, **kwargs):
            table = os.path.dirname(os.path.dirname(dst))
            if table not in linked:
                linked.add(table)
                self._step(f"link {os.path.basename(table)}")
            return link(src, dst, *args, **kwargs)

        def os_replace(src, dst, *args, **kwargs):
            if os.path.basename(dst) == "catalog.json":
                self._step("rename catalog.json")
            return replace(src, dst, *args, **kwargs)

        def remove_tree(path, *args, **kwargs):
            if os.path.exists(path):
                self._step(f"remove {os.path.basename(path)}")
            return rmtree(path, *args, **kwargs)

        mp.setattr(Graph, "_table_writer", staticmethod(table_writer))
        mp.setattr(os, "link", os_link)
        mp.setattr(os, "replace", os_replace)
        mp.setattr(shutil, "rmtree", remove_tree)

    def _step(self, name: str) -> None:
        self.names.append(name)
        if len(self.names) - 1 == self.fail_at:
            raise OSError(f"injected failure at {name}")


@pytest.fixture(scope="module")
def sequence(spark, tmp_path_factory) -> tuple[list[str], list, list[list[str]]]:
    """A copy of the graph's root before each statement, the graph's rows
    before each statement and after the last, and the commit steps of
    each statement's clean run (on a reopened graph, as below)."""
    tmp = tmp_path_factory.mktemp("crash")
    live = str(tmp / "live")
    eng = CypherEngine(spark, GraphCatalog(spark, root=live))
    eng.execute("CREATE GRAPH crash")
    eng.execute("USE GRAPH crash")
    eng.execute(SETUP)
    roots, states, steps = [], [_rows(eng.graph)], []
    for i, (_, stmt) in enumerate(STATEMENTS):
        roots.append(shutil.copytree(live, str(tmp / f"before-{i}")))
        eng = _open(spark, live)
        with pytest.MonkeyPatch.context() as mp:
            spy = _Steps(mp)
            eng.execute(stmt)
        steps.append(spy.names)
        states.append(_rows(eng.graph))
    return roots, states, steps


@pytest.mark.parametrize("i", range(len(STATEMENTS)), ids=[s[0] for s in STATEMENTS])
def test_a_failed_commit_step_leaves_one_snapshot(spark, sequence, tmp_path, i):
    roots, states, steps = sequence
    before, after = states[i : i + 2]
    assert before != after
    stmt = STATEMENTS[i][1]
    assert "rename catalog.json" in steps[i], steps[i]
    work = str(tmp_path / "work")
    torn = []
    for k, name in enumerate(steps[i]):
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(roots[i], work)
        eng = _open(spark, work)
        with pytest.MonkeyPatch.context() as mp:
            _Steps(mp, fail_at=k)
            with pytest.raises(OSError, match="injected failure"):
                eng.execute(stmt)
        reopened = _rows(_open(spark, work).graph)
        if reopened not in (before, after):
            torn.append(f"failure at {name}: the reopened graph is {reopened}")
        if _rows(eng.graph) != reopened:
            torn.append(f"failure at {name}: the writing engine differs from the reopen")
    assert not torn, f"{stmt}: {torn}"


def test_failed_create_is_invisible_to_the_writing_engine(spark, sequence, tmp_path, monkeypatch):
    """A CREATE whose table write fails leaves the engine that ran it
    reading the graph from before the statement."""
    root = shutil.copytree(sequence[0][0], str(tmp_path / "root"))
    eng = _open(spark, root)
    assert eng.fetch_values("MATCH (n) RETURN count(n)") == [1]

    def failing_writer(df, kind):
        raise OSError("table write failed")

    monkeypatch.setattr(Graph, "_table_writer", staticmethod(failing_writer))
    with pytest.raises(OSError, match="table write failed"):
        eng.execute(STATEMENTS[0][1])
    monkeypatch.undo()
    assert eng.fetch_values("MATCH (n) RETURN count(n)") == [1]


def test_reopened_graph_keeps_reading_the_table_a_write_left(spark, sequence, tmp_path):
    """A write to the vertices of a reopened graph publishes a new
    snapshot and removes the old one; the edges, read from the files of
    the old snapshot until then, are read from the new one after it."""
    root = shutil.copytree(sequence[0][1], str(tmp_path / "root"))

    def snapshot() -> str:
        with open(os.path.join(root, "crash", "catalog.json")) as f:
            return json.load(f)["snapshot"]

    eng = _open(spark, root)
    old = snapshot()
    eng.execute("MATCH (n:p) SET n.x = 1")
    assert snapshot() != old
    assert not os.path.exists(os.path.join(root, "crash", old))
    assert eng.fetch_values("MATCH ()-[r]->() RETURN count(r)") == [1]
    reopened = _open(spark, root)
    assert reopened.fetch_values("MATCH ()-[r]->() RETURN count(r)") == [1]
    assert _rows(reopened.graph) == _rows(eng.graph)
