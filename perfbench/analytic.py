"""``analytic_sf01``: batch analytics over seeded sf0.1 TPC-H-shaped tables.

Set-up bulk-registers six tables and the nation ring as GQL groups.  One
client then runs cycles of three parts in a closed loop, after one untimed
cycle:

- Four passes of GQL queries with seed-drawn constants: equality, IN,
  range under ``$and``, ``$or``, projection, ``count()``, point lookup,
  ``$near`` top-10 and a two-hop walk.  Results are pulled with ``.rows``.
- Pipeline calls that each start from ``sources.testdata.load``, as a user
  script would: a join plus aggregate for revenue, window last-writer-wins
  dedup, ``dedup.minhash_lsh_pairs``, ``similarity.knn_join`` and
  ``temporal.funnel``.
- A graph loop from ``operators.graph_algos``: ``connected_components``
  on the region chain of the nation table, where the fixed cost per
  superstep dominates.

DataFrame results are pulled in full with ``toArrow``.  After the timed
region every result is compared with DuckDB over the same parquet files,
or, for the graph loops, with the reference implementations in
``reference.py``.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import time

import datagen
import reference
from common import Run, df_op, gql_op, setup_repeated, run_cycles

SF = 0.1
GRAPH = "tpch"
# GQL reads run four times per cycle (fresh constants each pass), so they
# are most of the reads, the median read falls among them rather than on
# the edge to the far slower pipeline calls, and it rests on 36 samples
GQL_PASSES = 4
REGISTERED = [("customer", "c_custkey"), ("orders", "o_orderkey"),
              ("part", "p_partkey"), ("lineitem", "l_orderkey"),
              ("nation", "n_nationkey"), ("embeddings", "vec_id")]


def _setup(data: str):
    def setup(spark):
        from gqlite_spark import GQLite
        from gqlite_spark.sources import testdata
        db = GQLite(spark)
        g = db.catalog.create_graph(GRAPH)
        for table, key in REGISTERED:
            g.create_group(table).register_df(
                testdata.load(spark, data, table), key_col=key)
        g.create_group("nation_ring", is_edge=True, src_group="nation",
                       dst_group="nation").register_df(
            testdata.nation_ring_edges(spark, data))
        return db
    return setup


def gql_queries(rng: random.Random, data: str) -> list[tuple]:
    """(family, target group, statement, constants) with seed-drawn
    constants; reference.py checks each result from the same constants."""
    n_cust, n_vec = int(150_000 * SF), int(20_000 * SF)
    p = {"eq": rng.randrange(25), "in": sorted(rng.sample(range(n_cust), 5)),
         "disc": rng.randrange(11) / 100.0, "brand": rng.randint(1, 25),
         "proj": rng.randrange(25), "point": rng.randrange(n_cust),
         "near": reference.embedding(data, rng.randrange(n_vec)),
         "region": rng.randrange(5)}
    lo, hi = p["disc"] - 0.005, p["disc"] + 0.005
    return [
        ("gql.eq", "customer", f"{{query: 'customer', in: '{GRAPH}', "
         f"where: {{c_nationkey: {p['eq']}}}}};", p["eq"]),
        ("gql.in", "orders", "{query: [orders.o_custkey, orders.o_totalprice],"
         f" in: '{GRAPH}', where: {{o_custkey: {p['in']}}}}};", p["in"]),
        ("gql.range_and", "lineitem",
         "{query: [lineitem.l_quantity, lineitem.l_discount],"
         f" in: '{GRAPH}', where: {{$and: [{{l_quantity: {{$gt: 49}}}}, "
         f"{{l_discount: {{$gt: {lo:.3f}, $lt: {hi:.3f}}}}}]}}}};",
         (round(lo, 3), round(hi, 3))),
        ("gql.or", "part", f"{{query: 'part', in: '{GRAPH}', where: {{$or: "
         f"[{{p_size: {{$gt: 49}}}}, {{p_brand: 'Brand#{p['brand']}'}}]}}}};",
         p["brand"]),
        ("gql.projection", "customer",
         "{query: [customer.c_name, customer.c_acctbal],"
         f" in: '{GRAPH}', where: {{c_nationkey: {p['proj']}}}}};", p["proj"]),
        ("gql.count", "orders", f"{{query: count(orders), in: '{GRAPH}'}};",
         None),
        ("gql.point", "customer", f"{{query: 'customer', in: '{GRAPH}', "
         f"where: {{id: {p['point']}}}}};", p["point"]),
        ("gql.near", "embeddings", f"{{query: 'embeddings', in: '{GRAPH}', "
         "where: {embedding: {limit: 10, $near: ["
         + ", ".join(map(repr, p["near"])) + "]}}};", p["near"]),
        ("gql.walk", "nation_ring", f"{{query: 'nation_ring', in: '{GRAPH}', "
         f"where: [*, ->, {{n_regionkey: {p['region']}}}, ->, *]}};",
         p["region"]),
    ]


def run(session, tracer, run, seed: int, seconds: float, work: str) -> None:
    from gqlite_spark.operators import dedup, graph_algos, similarity, temporal
    from gqlite_spark.sources import testdata
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data = os.path.join(work, "sf0.1")
    # in a child process, so its peak memory stays out of peak_rss_mb
    gen = subprocess.run([sys.executable, datagen.__file__, data, str(SF),
                          str(seed)], check=True, capture_output=True,
                         text=True)
    print(f"generated tables (rows): {gen.stdout.strip()}", file=sys.stderr)
    db = setup_repeated(session, run, _setup(data))
    graph = db.catalog.graph(GRAPH)
    spark = session.spark
    rng = random.Random(seed)
    results: list[tuple] = []   # (family, params, value, error)

    def load(name):
        with tracer.span("sources.load", table=name):
            return testdata.load(spark, data, name)

    def edges(fn):
        with tracer.span("sources.load", table=fn.__name__):
            return fn(spark, data)

    def call(module, fn, *args, **kw):
        with tracer.span(f"operators.{module}"):
            return fn(*args, **kw)

    def revenue():
        o, c, n, r = (load(t) for t in ("orders", "customer", "nation",
                                        "region"))
        dims = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                .select("c_custkey", "r_name"))
        return (o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
                .groupBy("r_name")
                .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                     .alias("revenue_cents"), F.count("*").alias("n_orders")))

    def lww_dedup():
        e = load("events")
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                                  F.col("event_id").desc())
        return (e.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("user_id", "event_id", "event_type", "value"))

    def knn_join(q_ids):
        emb = load("embeddings")
        queries = emb.filter(F.col("vec_id").isin(q_ids)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        return call("similarity", similarity.knn_join, emb, queries, k=5)

    def cycle(run, results, gql_passes):
        for _ in range(gql_passes):
            for family, group, stmt, params in gql_queries(rng, data):
                res, rows, err = gql_op(tracer, run, db, stmt, family, "read",
                                        graph.groups[group])
                if err is None and res.status == "ERROR":
                    err = f"ERROR where success was expected: {res.error}"
                value = (res.value if family == "gql.count" and err is None
                         else rows)
                results.append((family, params, value, err))
        q_ids = sorted(rng.sample(range(int(20_000 * SF)), 5))
        calls = [
            ("pipe.revenue", None, revenue),
            ("pipe.lww_dedup", None, lww_dedup),
            ("pipe.minhash", None, lambda: call(
                "dedup", dedup.minhash_lsh_pairs, load("documents"),
                threshold=0.7)),
            ("pipe.knn_join", q_ids, lambda: knn_join(q_ids)),
            ("pipe.funnel", None, lambda: call(
                "temporal", temporal.funnel, load("events"),
                ["view", "click", "purchase"])),
            ("graph.cc_region_chain", None, lambda: call(
                "graph_algos", graph_algos.connected_components,
                edges(testdata.region_chain_edges))),
        ]
        for family, params, build in calls:
            value, err = df_op(tracer, run, family, build)
            results.append((family, params, value, err))

    # untimed: every op shape once, so timed ops do not pay first-use JIT
    # and code generation
    traced, tracer.enabled = tracer.enabled, False
    cycle(Run(), [], gql_passes=1)
    tracer.enabled = traced
    run_cycles(seconds, lambda _n: cycle(run, results, GQL_PASSES))
    run.peak_rss_mb = session.peak_rss_mb()

    t0 = time.perf_counter()
    check = reference.Checker(data)
    for family, params, value, err in results:
        if err is None:
            err = check(family, params, value)
        run.tally.record(family, err is None, err or "")
    print(f"checked {len(results)} results in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
