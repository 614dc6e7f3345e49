"""``oltp_session``: the engine as an embedded graph database.

A seed-generated graph shaped like the reference's basketballplayer
fixture (``player`` and ``team`` vertices with string ids, ``serve`` and
``follow`` edges with integer properties) is preloaded through GQL
``upset``.  One client then runs rounds of GQL statements in a closed loop.
A round runs a 21-op pattern twice: 15 reads (point lookups by id, an
age-range predicate, one-hop walks, and in the first pass one invalid read
whose correct outcome is ERROR), 5 writes (vertex upsert of a new and of an
existing id, edge upsert, property update, vertex remove with edge cascade)
and one ``Graph.save`` commit.  Every read is compared with an
in-benchmark model of the graph; after the last commit the graph is
reopened from disk and compared with the model again.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from common import gql_op, setup_repeated, run_cycles

GRAPH = "bb"
N_PLAYERS = 1800
N_TEAMS = 200
FOLLOWS_PER_PLAYER = 2
BATCH = 100

# one commit every 21 ops; a round runs the pattern twice so that it holds
# 30 reads, the second time with a point lookup in place of the invalid
# read, so invalid reads are 1 op in 42
PATTERN = ["point", "walk_follow", "range", "upsert_new", "point_new",
           "walk_serve", "point", "edge_upsert", "walk_follow_edge", "range",
           "update_prop", "point_updated", "invalid", "upsert_existing",
           "point", "walk_follow", "remove", "point_removed", "range",
           "point", "commit"]
ROUND = PATTERN + ["point" if k == "invalid" else k for k in PATTERN]

# Statements whose correct outcome is an ERROR result but which raise out
# of exec instead.  They run once per run outside the timed op stream and
# are reported as executor.raised_on_invalid.
RAISING_INVALID = [
    "{query: 'player', in: 'bb', where: {nope: {$gt: 3}}};",
    "{query: 'player', in: 'bb', where: {age: {$gt: 'abc'}}};",
]


def _props_json(props: dict) -> str:
    return json.dumps(props, sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False)


def _gql_props(props: dict) -> str:
    return "{" + ", ".join(
        f"{k}: '{v}'" if isinstance(v, str) else f"{k}: {v}"
        for k, v in props.items()) + "}"


class Model:
    """The graph as the benchmark expects the engine to hold it."""

    def __init__(self, rng: random.Random):
        self.players = {f"player{i}": self._player(rng, i)
                        for i in range(N_PLAYERS)}
        self.teams = {f"team{i}": {"name": f"Team {i}"} for i in range(N_TEAMS)}
        self.serve: dict[tuple, dict] = {}
        self.follow: dict[tuple, dict] = {}
        ids = list(self.players)
        for p in ids:
            start = rng.randint(1990, 2015)
            self.serve[(p, f"team{rng.randrange(N_TEAMS)}")] = {
                "start_year": start, "end_year": start + rng.randint(1, 15)}
            followed: set[str] = set()
            while len(followed) < FOLLOWS_PER_PLAYER:
                q = rng.choice(ids)
                if q != p:
                    followed.add(q)
            for q in sorted(followed):
                self.follow[(p, q)] = {"degree": rng.randint(50, 100)}
        self.next_id = N_PLAYERS

    @staticmethod
    def _player(rng, i) -> dict:
        return {"name": f"Player {i}", "age": rng.randint(20, 45)}

    def preload(self) -> list[str]:
        stmts = [f"{{create: '{GRAPH}', group: ['player', 'team',"
                 " ['player', 'serve', 'team'],"
                 " ['player', 'follow', 'player']]};"]
        for group, rows in (("player", self.players), ("team", self.teams)):
            items = [f"['{k}', {_gql_props(v)}]" for k, v in rows.items()]
            stmts += [f"{{upset: '{group}', vertex: ["
                      + ", ".join(items[i:i + BATCH]) + "]};"
                      for i in range(0, len(items), BATCH)]
        for group, edges in (("serve", self.serve), ("follow", self.follow)):
            items = [f"['{s}', ->: {_gql_props(p)}, '{d}']"
                     for (s, d), p in edges.items()]
            stmts += [f"{{upset: '{group}', edge: ["
                      + ", ".join(items[i:i + BATCH]) + "]};"
                      for i in range(0, len(items), BATCH)]
        return stmts

    # expected rows, in the engine's golden format
    @staticmethod
    def vertex_rows(rows: dict, keys) -> list[str]:
        return sorted(f"[{k}, {_props_json(rows[k])}]" for k in keys)

    @staticmethod
    def edge_rows(edges: dict, keys) -> list[str]:
        return sorted(f"['{s}', ->, '{d}', {_props_json(edges[(s, d)])}]"
                      for s, d in keys)

    def group_rows(self, group: str) -> list[str]:
        if group in ("player", "team"):
            rows = getattr(self, group + "s")
            return self.vertex_rows(rows, rows)
        edges = getattr(self, group)
        return self.edge_rows(edges, edges)

    def remove_player(self, pid: str) -> None:
        del self.players[pid]
        self.serve = {k: v for k, v in self.serve.items() if k[0] != pid}
        self.follow = {k: v for k, v in self.follow.items()
                       if pid not in k}

    def live_rows(self) -> int:
        return (len(self.players) + len(self.teams) + len(self.serve)
                + len(self.follow))


def check_read(res, rows, err, expected: list[str]) -> str | None:
    """Why a statement expected to succeed with ``expected`` rows did not,
    or None."""
    if err is not None:
        return err
    if res.status == "ERROR":
        return f"ERROR where success was expected: {res.error}"
    if sorted(rows) != expected:
        return f"wrong rows: got {sorted(rows)[:3]}, want {expected[:3]}"
    return None


def check_error(res, err, want: str) -> str | None:
    """Why a statement expected to give the ERROR ``want`` did not, or None."""
    if err is not None:
        return err
    if res.status != "ERROR" or res.error != want:
        return f"expected ERROR {want!r}, got {res.status} {res.error}"
    return None


def _setup(model: Model):
    def setup(spark):
        from gqlite_spark import GQLite
        db = GQLite(spark)
        for stmt in model.preload():
            res = db.exec(stmt)[0]
            if res.status == "ERROR":
                raise RuntimeError(f"preload failed: {res.error}")
        return db
    return setup


def _disk(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def run(session, tracer, run, seed: int, seconds: float, work: str) -> None:
    rng = random.Random(seed)
    model = Model(rng)
    db = setup_repeated(session, run, _setup(model))
    graph = db.catalog.graph(GRAPH)
    # untimed: each read shape, a property update, a remove (about twice as
    # slow the first time) and a save elsewhere, so timed ops do not pay
    # first-use JIT and code generation
    for text in ["{query: 'player', in: 'bb', where: {id: 'player0'}};",
                 "{query: 'player', in: 'bb', where: {age: {$gt: 30, $lt: 32}}};",
                 "{query: 'follow', in: 'bb', where: ['player0', ->, *]};",
                 "{query: 'serve', in: 'bb', where: ['player0', ->, *]};"]:
        db.exec(text)[0].rows
    model.players["player1"]["age"] = 30
    model.remove_player("player2")
    for text in ["{upset: 'player', property: {age: 30}, "
                 "where: {id: 'player1'}};",
                 "{remove: 'player', vertex: {id: 'player2'}};"]:
        res = db.exec(text)[0]
        if res.status == "ERROR":
            raise RuntimeError(f"warm-up write failed: {res.error}")
    graph.save(os.path.join(work, "warm-up-root"))
    root = os.path.join(work, "oltp-root")
    cache_misses: list[bool] = []   # target group had no materialized df
    overlay: list[int] = []
    commits: list[tuple[int, int]] = []
    last: dict[str, str] = {}   # ids the next step of a round refers to

    def read(family: str, text: str, group: str, expected: list[str]):
        grp = graph.groups[group]
        if tracer.enabled:
            # the DataFrame Group.to_df caches until a write invalidates it
            cache_misses.append(grp._mat_cache is None)
            overlay.append(len(grp.rows))
        res, rows, err = gql_op(tracer, run, db, text, family, "read", grp)
        err = check_read(res, rows, err, expected)
        run.tally.record(family, err is None, f"{err} in {text}")

    def write(family: str, text: str):
        res, _, err = gql_op(tracer, run, db, text, family, "write")
        err = check_read(res, [], err, [])
        run.tally.record(family, err is None, f"{err} in {text}")

    def pick_player() -> str:
        return rng.choice(sorted(model.players))

    def step(kind: str) -> None:
        P = model.players
        if kind in ("point", "point_new", "point_updated", "point_removed"):
            pid = pick_player() if kind == "point" else last.pop(kind)
            read("point", f"{{query: 'player', in: '{GRAPH}', "
                 f"where: {{id: '{pid}'}}}};", "player",
                 Model.vertex_rows(P, [pid] if pid in P else []))
        elif kind == "range":
            a = rng.randint(20, 44)
            read("range", f"{{query: 'player', in: '{GRAPH}', where: "
                 f"{{age: {{$gt: {a - 1}, $lt: {a + 2}}}}}}};", "player",
                 Model.vertex_rows(P, [k for k, v in P.items()
                                       if a <= v["age"] <= a + 1]))
        elif kind in ("walk_follow", "walk_follow_edge", "walk_serve"):
            group = "serve" if kind == "walk_serve" else "follow"
            pid = last.pop("walk_follow_edge") if kind == "walk_follow_edge" \
                else pick_player()
            edges = getattr(model, group)
            read("walk", f"{{query: '{group}', in: '{GRAPH}', "
                 f"where: ['{pid}', ->, *]}};", group,
                 Model.edge_rows(edges, [k for k in edges if k[0] == pid]))
        elif kind == "invalid":
            text, want = rng.choice([
                (f"{{query: 'coach', in: '{GRAPH}'}};",
                 "group is not exist: coach"),
                ("{query: 'player', in: 'nba'};", "graph is not exist: nba")])
            res, _, err = gql_op(tracer, run, db, text, "invalid", "read")
            err = check_error(res, err, want)
            run.tally.record("invalid", err is None, f"{err} in {text}")
        elif kind in ("upsert_new", "upsert_existing"):
            if kind == "upsert_new":
                pid = f"player{model.next_id}"
                model.next_id += 1
                last["point_new"] = pid
            else:
                pid = pick_player()
            P[pid] = Model._player(rng, rng.randrange(10_000))
            write(kind, f"{{upset: 'player', vertex: [['{pid}', "
                  f"{_gql_props(P[pid])}]]}};")
        elif kind == "edge_upsert":
            a, b = rng.sample(sorted(P), 2)
            model.follow[(a, b)] = {"degree": rng.randint(50, 100)}
            last["walk_follow_edge"] = a
            write(kind, f"{{upset: 'follow', edge: [['{a}', ->: "
                  f"{_gql_props(model.follow[(a, b)])}, '{b}']]}};")
        elif kind == "update_prop":
            pid = pick_player()
            age = rng.randint(20, 45)
            P[pid] = {**P[pid], "age": age}
            last["point_updated"] = pid
            write(kind, f"{{upset: 'player', property: {{age: {age}}}, "
                  f"where: {{id: '{pid}'}}}};")
        elif kind == "remove":
            pid = pick_player()
            model.remove_player(pid)
            last["point_removed"] = pid
            write(kind, f"{{remove: 'player', vertex: {{id: '{pid}'}}}};")
        elif kind == "commit":
            with tracer.op("commit", "commit"):
                t0 = time.perf_counter()
                try:
                    with tracer.span("fsio.commit"):
                        graph.save(root)
                    err = None
                except Exception as e:  # a failed commit is a failed op
                    err = f"raised {type(e).__name__}: {str(e)[:200]}"
                run.timed("commit", "commit", time.perf_counter() - t0)
            run.tally.record("commit", err is None, err or "")
            commits.append(_disk(os.path.join(root, GRAPH)))

    run_cycles(seconds, lambda _n: [step(k) for k in ROUND])
    run.peak_rss_mb = session.peak_rss_mb()

    raised = 0
    for text in RAISING_INVALID:
        try:
            res = db.exec(text)[0]
            print(f"invalid read returned {res.status}: {text}",
                  file=sys.stderr)
        except Exception as e:
            raised += 1
            print(f"invalid read raised {type(e).__name__}: {text}",
                  file=sys.stderr)

    # durability: every acknowledged write is readable from the last commit
    from gqlite_spark import GQLite
    with tracer.op("reload", "check"):
        with tracer.span("fsio.reload"):
            reopened = GQLite(session.spark, root)
            got = {g: reopened.exec(f"{{query: '{g}', in: '{GRAPH}'}};")[0]
                   for g in ("player", "team", "serve", "follow")}
            got = {g: (r.status, sorted(r.rows)) for g, r in got.items()}
    for g, (status, rows) in got.items():
        want = model.group_rows(g)
        run.tally.record(f"durable.{g}", status != "ERROR" and rows == want,
                         f"{status}: {len(rows)} rows read back, "
                         f"{len(want)} acknowledged")

    files, size = commits[-1]
    run.extra.update({
        "catalog.reads_after_write_share":
            sum(cache_misses) / len(cache_misses) if cache_misses else 0.0,
        "catalog.overlay_rows": sum(overlay) / len(overlay) if overlay else 0.0,
        "executor.raised_on_invalid": raised,
        "fsio.bytes_written": sum(c[1] for c in commits) / len(commits),
        "fsio.files_written": sum(c[0] for c in commits) / len(commits),
        "stored_bytes_per_row": size / model.live_rows(),
    })
