"""Expected results for ``analytic_sf01``, computed without Spark: DuckDB
over the generated parquet files for the GQL and pipeline ops, and a
Python union-find for the graph loop.  ``Checker(data)(family, params,
value)`` returns None when ``value`` is right and a one-line reason when it
is not."""

from __future__ import annotations

import ast
import json
import os
from collections import Counter

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MINHASH_RECALL_FLOOR = 0.9


def embedding(data: str, vec_id: int) -> list[float]:
    t = pq.read_table(os.path.join(data, "embeddings.parquet"),
                      filters=[("vec_id", "=", vec_id)])
    return [float(x) for x in t.column("embedding")[0].as_py()]


def _vertex_rows(rows: list[str]) -> list[dict]:
    """``[key, {json props}]`` golden-format rows → dicts with ``id``."""
    out = []
    for r in rows:
        key, _, props = r[1:-1].partition(", ")
        d = json.loads(props) if props != "null" else {}
        d["id"] = int(key)
        out.append(d)
    return out


def _diff(got: list[tuple], want: list[tuple]) -> str | None:
    g, w = sorted(got), sorted(want)
    if g == w:
        return None
    extra = sorted((Counter(g) - Counter(w)).elements())[:2]
    missing = sorted((Counter(w) - Counter(g)).elements())[:2]
    return f"{len(g)} rows, {len(w)} expected; extra {extra}, missing {missing}"


def _round(row, places=6):
    return tuple(round(v, places) if isinstance(v, float) else v for v in row)


class Checker:
    def __init__(self, data: str):
        import duckdb
        self.data = data
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{path}')")
        self.con.execute(
            "CREATE VIEW ring AS SELECT n_nationkey::BIGINT AS src,"
            " ((n_nationkey + 1) % 25)::BIGINT AS dst FROM nation UNION ALL"
            " SELECT n_nationkey::BIGINT, ((n_nationkey + 7) % 25)::BIGINT"
            " FROM nation")
        self._memo: dict = {}

    def sql(self, q: str, params=None) -> list[tuple]:
        key = (q, repr(params))
        if key not in self._memo:   # every cycle repeats the param-less ops
            self._memo[key] = self.con.execute(q, params or []).fetchall()
        return self._memo[key]

    def __call__(self, family: str, params, value) -> str | None:
        try:
            return getattr(self, family.replace(".", "_"))(params, value)
        except Exception as e:  # a malformed result is a wrong result
            return f"could not check: {type(e).__name__}: {e}"

    # ------------------------------------------------------------ GQL half
    def _vertices(self, value, cols: list[str], where: str, params=()):
        got = [_round(tuple(d.get(c) for c in ["id"] + cols))
               for d in _vertex_rows(value)]
        table = {"c_": "customer", "o_": "orders", "l_": "lineitem",
                 "p_": "part"}[cols[0][:2]]
        key = {"customer": "c_custkey", "orders": "o_orderkey",
               "lineitem": "l_orderkey", "part": "p_partkey"}[table]
        want = [_round(r) for r in self.sql(
            f"SELECT {key}, {', '.join(cols)} FROM {table} WHERE {where}",
            list(params))]
        return _diff(got, want)

    def gql_eq(self, k, value):
        return self._vertices(value, ["c_name", "c_nationkey", "c_acctbal",
                                      "c_mktsegment"], "c_nationkey = ?", [k])

    def gql_in(self, custs, value):
        return self._vertices(value, ["o_custkey", "o_totalprice"],
                              f"o_custkey IN ({', '.join('?' * len(custs))})",
                              custs)

    def gql_range_and(self, bounds, value):
        return self._vertices(value, ["l_quantity", "l_discount"],
                              "l_quantity > 49 AND l_discount > ?"
                              " AND l_discount < ?", bounds)

    def gql_or(self, brand, value):
        return self._vertices(value, ["p_name", "p_brand", "p_type", "p_size",
                                      "p_retailprice"],
                              "p_size > 49 OR p_brand = ?", [f"Brand#{brand}"])

    def gql_projection(self, k, value):
        return self._vertices(value, ["c_name", "c_acctbal"],
                              "c_nationkey = ?", [k])

    def gql_point(self, key, value):
        return self._vertices(value, ["c_name", "c_nationkey", "c_acctbal",
                                      "c_mktsegment"], "c_custkey = ?", [key])

    def gql_count(self, _params, value):
        want = self.sql("SELECT count(*) FROM orders")[0][0]
        return None if value == want else f"count {value}, expected {want}"

    def gql_near(self, vec, value):
        got = [(d["id"],) for d in _vertex_rows(value)]
        want = self.sql(
            "SELECT vec_id FROM embeddings ORDER BY list_distance("
            "embedding::DOUBLE[], ?::DOUBLE[]), vec_id LIMIT 10", [vec])
        return _diff(got, want)

    def gql_walk(self, region, value):
        got = [tuple(ast.literal_eval(r)[k] for k in ("n0", "n1", "n2"))
               for r in value]
        want = self.sql(
            "SELECT a.src, a.dst, b.dst FROM ring a JOIN ring b"
            " ON a.dst = b.src JOIN nation n ON n.n_nationkey = a.dst"
            " WHERE n.n_regionkey = ?", [region])
        return _diff(got, want)

    # ------------------------------------------------------- pipeline half
    @staticmethod
    def _rows(table, cols) -> list[tuple]:
        return [_round(r) for r in zip(*(table.column(c).to_pylist()
                                         for c in cols))]

    def pipe_revenue(self, _params, table):
        return _diff(self._rows(table, ["r_name", "revenue_cents", "n_orders"]),
                     self.sql(
            "SELECT r_name, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)),"
            " COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"))

    def pipe_lww_dedup(self, _params, table):
        return _diff(
            self._rows(table, ["user_id", "event_id", "event_type", "value"]),
            [_round(r) for r in self.sql(
                "SELECT user_id, event_id, event_type, value FROM events"
                " QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id"
                " ORDER BY ts DESC, event_id DESC) = 1")])

    def pipe_minhash(self, _params, table):
        """Every emitted pair carries its exact Jaccard, so precision is
        exact; banding makes recall probabilistic, held to a floor."""
        exact = {(a, b): j for a, b, j in self.sql(
            "WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS tk"
            " FROM documents),"
            " sh AS (SELECT id, unnest(list_distinct(list_transform("
            " generate_series(1, greatest(len(tk) - 2, 0)),"
            " i -> array_to_string(tk[i:i+2], ' ')))) AS s FROM toks),"
            " sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),"
            " inter AS (SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS c"
            " FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)"
            " SELECT doc_a, doc_b, round(c::DOUBLE / (sa.n + sb.n - c), 4)"
            " FROM inter JOIN sizes sa ON sa.id = doc_a"
            " JOIN sizes sb ON sb.id = doc_b"
            " WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.7")}
        got = self._rows(table, ["doc_a", "doc_b", "jaccard"])
        wrong = [r for r in got if exact.get(r[:2]) != round(r[2], 4)]
        if wrong:
            return f"{len(wrong)} pairs not in the exact set, e.g. {wrong[:2]}"
        if len(set(got)) < MINHASH_RECALL_FLOOR * len(exact):
            return f"recall {len(set(got))}/{len(exact)} below the floor"
        return None

    def pipe_knn_join(self, q_ids, table):
        return _diff(self._rows(table, ["q_id", "id", "rank", "cosine"]),
                     [_round(r) for r in self.sql(
            "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
            " q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv"
            f" FROM embeddings WHERE vec_id IN ({', '.join('?' * len(q_ids))})),"
            " s AS (SELECT q.q_id, v.vec_id, list_inner_product(v.v, q.qv) /"
            " (sqrt(list_inner_product(v.v, v.v)) *"
            " sqrt(list_inner_product(q.qv, q.qv))) AS cos FROM v, q)"
            " SELECT q_id, vec_id, rank, round(cos, 4) FROM ("
            " SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY q_id"
            " ORDER BY cos DESC, vec_id ASC) AS rank FROM s) WHERE rank <= 5",
            q_ids)])

    def pipe_funnel(self, _params, table):
        return _diff(self._rows(table, ["step_idx", "step", "n_users"]),
                     self.sql(
            "WITH e AS (SELECT user_id AS u, event_type AS t,"
            " epoch_us(ts)::BIGINT AS e FROM events),"
            " s1 AS (SELECT u, MIN(e) AS r FROM e WHERE t = 'view' GROUP BY u),"
            " s2 AS (SELECT e.u, MIN(e.e) AS r FROM e JOIN s1 ON e.u = s1.u"
            " WHERE e.t = 'click' AND e.e >= s1.r GROUP BY e.u),"
            " s3 AS (SELECT e.u, MIN(e.e) AS r FROM e JOIN s2 ON e.u = s2.u"
            " WHERE e.t = 'purchase' AND e.e >= s2.r GROUP BY e.u)"
            " SELECT 1, 'view', COUNT(*) FROM s1"
            " UNION ALL SELECT 2, 'click', COUNT(*) FROM s2"
            " UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3"))

    # ---------------------------------------------------------- graph loop
    def graph_cc_region_chain(self, _params, table):
        n = pq.read_table(os.path.join(self.data, "nation.parquet"))
        nations = sorted(zip(n.column("n_regionkey").to_pylist(),
                             n.column("n_nationkey").to_pylist()))
        chain = [(a, b) for (ra, a), (rb, b) in zip(nations, nations[1:])
                 if ra == rb]
        comp = reference_components([k for _, k in nations], chain)
        return _diff(self._rows(table, ["id", "component"]), list(comp.items()))


def reference_components(vertices, edges) -> dict:
    """Union-find; component = smallest vertex id in it."""
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}
