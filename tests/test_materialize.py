"""The engine's one memo and one bounded driver probe
(``operators.dedup.memo`` / ``bounded_collect``), plus a source guard that
keeps them the only ones."""

import ast
import os
import re

from datapipeline_ops_spark.operators.dedup import bounded_collect, clear_barriers, memo

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datapipeline_ops_spark"
)


def _probe(spark, df, cap):
    """bounded_collect's result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"bounded-collect-{id(df)}"
    sc.setJobGroup(group, "bounded_collect job count")
    try:
        out = bounded_collect(df, cap)
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_collect_at_cap_returns_table(spark):
    tbl, jobs = _probe(spark, spark.range(0, 5, numPartitions=3), 5)
    assert jobs == 1
    assert tbl is not None
    assert sorted(tbl.column("id").to_pylist()) == [0, 1, 2, 3, 4]


def test_bounded_collect_over_cap_returns_none(spark):
    tbl, jobs = _probe(spark, spark.range(0, 6, numPartitions=3), 5)
    assert jobs == 1
    assert tbl is None


def test_bounded_collect_empty_frame(spark):
    tbl = bounded_collect(spark.range(0), 5)
    assert tbl is not None
    assert tbl.num_rows == 0
    assert tbl.column_names == ["id"]
    # a cap of -1 forces the distributed branch even for an empty frame
    assert bounded_collect(spark.range(0), -1) is None


def test_memo_builds_once_per_site_and_dataset(spark):
    calls = []

    def build(tag):
        def run():
            calls.append(tag)
            return object()

        return run

    clear_barriers()
    a1 = memo(spark, "test_memo", "dir_a", build("a"))
    a2 = memo(spark, "test_memo", "dir_a", build("a"))
    b = memo(spark, "test_memo", "dir_b", build("b"))
    other_site = memo(spark, "test_memo_other", "dir_a", build("other"))
    assert a1 is a2
    assert b is not a1 and other_site is not a1
    assert calls == ["a", "b", "other"]

    clear_barriers()
    a3 = memo(spark, "test_memo", "dir_a", build("a"))
    assert a3 is not a1
    assert calls == ["a", "b", "other", "a"]
    clear_barriers()


def _sources():
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_single_probe_and_memo_seam():
    """Spark-free: the package keeps ONE bounded probe and ONE memo — no
    hand-rolled ``.toArrow(`` probe, clear-hook registry or module-level
    ``*_MEMO`` dict may reappear."""
    probes = []
    for rel, src in _sources():
        assert "register_clear_hook" not in src, rel
        assert "_CLEAR_HOOKS" not in src, rel
        tree = ast.parse(src)
        for node in tree.body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    assert not re.fullmatch(r"\w*_MEMO", t.id), (rel, t.id)
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for i, line in enumerate(src.splitlines(), 1):
            if ".toArrow(" in line:
                owners = [f.name for f in funcs if f.lineno <= i <= f.end_lineno]
                probes.append((rel, owners))
    assert probes == [(os.path.join("operators", "dedup.py"), ["bounded_collect"])], probes
