"""The benchmark's own tests: outcome checks count wrong results as failed
ops, the traced run adds no Spark jobs, and a directory without the engine
gives no result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import oltp  # noqa: E402
import reference  # noqa: E402
from common import Run, Tally  # noqa: E402


class _Result:
    def __init__(self, status, error=None):
        self.status, self.error = status, error


def test_oltp_wrong_result_is_a_failed_op():
    model = oltp.Model(random.Random(3))
    want = oltp.Model.vertex_rows(model.players, ["player7"])
    wrong = [want[0].replace('"age":', '"age":1')]
    tally = Tally()
    for rows in (want, wrong):
        err = oltp.check_read(_Result("QUERY SUCCESS"), rows, None, want)
        tally.record("point", err is None, err or "")
    assert (tally.attempted, tally.failed) == (2, 1)


def test_oltp_error_outcomes():
    tally = Tally()
    want = "group is not exist: coach"
    cases = [(_Result("ERROR", want), None),                 # right
             (_Result("QUERY SUCCESS"), None),               # success, ERROR expected
             (None, "raised AnalysisException: ..."),        # raised
             (_Result("ERROR", "graph is not exist: x"), None)]
    for res, err in cases:
        reason = oltp.check_error(res, err, want)
        tally.record("invalid", reason is None, reason or "")
    assert (tally.attempted, tally.failed) == (4, 3)
    err = oltp.check_read(_Result("ERROR", "boom"), [], None, [])
    assert err and "ERROR where success was expected" in err


def test_analytic_wrong_result_is_a_failed_op(tmp_path):
    import pyarrow as pa
    data = str(tmp_path / "sf")
    datagen.write(data, 0.001, seed=5)
    check = reference.Checker(data)
    n = check.sql("SELECT count(*) FROM orders")[0][0]
    tally = Tally()
    for value in (n, n + 1):
        err = check("gql.count", None, value)
        tally.record("gql.count", err is None, err or "")
    assert (tally.attempted, tally.failed) == (2, 1)
    everyone_alone = pa.table({"id": list(range(25)),
                               "component": list(range(25))})
    assert check("graph.cc_region_chain", None, everyone_alone) is not None


def test_ops_per_s_counts_each_op_at_its_family_median():
    run = Run()
    for seconds in (1.0, 1.0, 1.0, 9.0):   # one stalled point lookup
        run.timed("point", "read", seconds)
    run.timed("commit", "commit", 2.0)
    assert run.ops_per_s() == 5 / (4 * 1.0 + 2.0)


def test_bare_directory_gives_no_result(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero and
    print no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = json.load(open(tmp_path / "BENCHMARK.json"))["command"]
    p = subprocess.run(cmd + ["--workload", "oltp_session", "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_tracing_adds_no_spark_jobs(tmp_path):
    """For one fixed op list, the traced run launches exactly the jobs of
    the untraced one."""
    from common import Session, df_op, gql_op
    from gqlite_spark import GQLite
    from gqlite_spark.operators import graph_algos, temporal
    from gqlite_spark.sources import testdata
    from spans import Tracer
    data = str(tmp_path / "sf")
    datagen.write(data, 0.001, seed=2)
    session = Session(str(tmp_path / "work"))
    session.start()
    try:
        counts = []
        for traced in (False, True):
            spark = session.spark
            db = GQLite(spark)
            model = oltp.Model(random.Random(1))
            for stmt in model.preload():
                db.exec(stmt)
            grp = db.catalog.graph(oltp.GRAPH).groups["player"]
            tracer = Tracer(session, enabled=traced)
            store = spark.sparkContext._jsc.sc().statusStore()
            before = store.jobsList(None).size()
            run = Run()
            for text in ["{query: 'player', in: 'bb', where: {id: 'player3'}};",
                         "{upset: 'player', property: {age: 30}, "
                         "where: {id: 'player4'}};",
                         "{query: 'player', in: 'bb', where: "
                         "{age: {$gt: 30, $lt: 33}}};",
                         "{remove: 'player', vertex: {id: 'player5'}};",
                         "{query: 'follow', in: 'bb', where: "
                         "['player6', ->, *]};"]:
                kind = "read" if text.startswith("{query") else "write"
                gql_op(tracer, run, db, text, "op", kind,
                       grp if kind == "read" else None)
            df_op(tracer, run, "cc", lambda: graph_algos.connected_components(
                testdata.region_chain_edges(spark, data)))
            df_op(tracer, run, "funnel", lambda: temporal.funnel(
                testdata.load(spark, data, "events"), ["view", "click"]))
            counts.append(store.jobsList(None).size() - before)
        assert counts[0] == counts[1] > 0
    finally:
        session.close()
