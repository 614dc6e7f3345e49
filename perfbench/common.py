"""Pieces both workloads share: the Spark session a run owns, the op
tally, the record of timings, and the timed wrappers around calls into the
engine's layers."""

from __future__ import annotations

import os
import statistics
import sys
import time

# set-ups per run, each in the running JVM.  They speed up as the JIT
# compiles the set-up path, so the first SETUP_WARMUP are not counted and
# setup_s is the median of the rest
SETUP_REPEATS = 6
SETUP_WARMUP = 3


class Session:
    """Owns the SparkSession and its JVM for one run.  Spark's scratch
    space, the JVM's temp dir and Python workers' temp files all live under
    ``work`` so a run reads and writes only inside the checkout."""

    def __init__(self, work: str):
        self.work = work
        self.cpus = min(2, os.cpu_count() or 1)
        self.spark = None
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        # overrides spark.local.dir when set, so point it inside too
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["PYSPARK_PYTHON"] = sys.executable

    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        return {
            # the result line must stay parseable: no console progress bars
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no fixed or pre-touched heap: the JVM's resident size follows
            # the heap the engine really uses, up to the cap below.  The
            # serial collector with a fixed young generation sizes the heap
            # from what a collection leaves live, not from pause times, so
            # peak_rss_mb does not follow GC timing
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                " -XX:-UsePerfData -XX:+UseSerialGC -Xmn192m",
            "spark.driver.memory": "2g",
            # the traced run reads every job, stage and SQL execution of
            # the run back from the status stores at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def start(self) -> float:
        """``get_spark`` plus a fixed warm-up job; returns seconds taken."""
        from gqlite_spark import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus,
                               extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        (self.spark.range(0, 200_000, numPartitions=self.cpus)
         .selectExpr("id % 97 AS k").groupBy("k").count().collect())
        return time.perf_counter() - t0

    def restart(self) -> float:
        """A fresh SparkSession in the running JVM; the JVM collects the
        stopped session's garbage first, so every set-up starts from the
        same heap."""
        self.spark.stop()
        from pyspark import SparkContext
        SparkContext._jvm.java.lang.System.gc()
        return self.start()

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM's."""
        pids = [os.getpid()]
        proc = self._jvm_proc()
        if proc is not None:
            pids.append(proc.pid)
        kb = [_vm_hwm_kb(p) for p in pids]
        print(f"VmHWM MB (python, jvm): {[round(k / 1024.0, 1) for k in kb]}",
              file=sys.stderr)
        return sum(kb) / 1024.0

    @staticmethod
    def _jvm_proc():
        from pyspark import SparkContext
        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait until it has exited."""
        from pyspark import SparkContext
        proc = self._jvm_proc()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a broken gateway: shut the JVM down below
                pass
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Tally:
    """Ops attempted and failed.  A failure is a raised exception, an ERROR
    where success was expected, a success where ERROR was expected, or a
    wrong result."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, family: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{family}: {detail}"[:500])

    @property
    def failed(self) -> int:
        return len(self.failures)


class Run:
    """What a workload measured: (op family, kind, seconds) per timed op,
    set-up samples, the tally, and per-layer values only the workload
    itself knows."""

    def __init__(self):
        self.samples: list[tuple[str, str, float]] = []
        self.setup: list[float] = []
        self.register: list[float] = []
        self.start_s = 0.0
        self.peak_rss_mb = 0.0
        self.tally = Tally()
        self.extra: dict[str, float] = {}

    def timed(self, family: str, kind: str, seconds: float) -> None:
        self.samples.append((family, kind, seconds))

    def latencies(self, kind: str) -> list[float]:
        """Seconds per timed op of one kind."""
        return [s for _, k, s in self.samples if k == kind]

    def ops_per_s(self) -> float:
        """Ops per second of op latency, each op counted at the median
        latency of its family.  The op mix is fixed by the seed, so this is
        the throughput of the run's op list at typical latencies: a stall
        of the shared host during a few ops moves their family's median
        little, where it would move a plain sum of latencies in full."""
        by_family: dict[str, list[float]] = {}
        for family, _, seconds in self.samples:
            by_family.setdefault(family, []).append(seconds)
        wall = sum(len(v) * statistics.median(v) for v in by_family.values())
        return len(self.samples) / wall if wall else 0.0


def setup_repeated(session: Session, run: Run, setup):
    """Set the workload up SETUP_REPEATS times, each on a fresh
    SparkSession in the JVM that ``Session.start`` launched; keeps the last
    state.  One set-up = get_spark + warm-up job + ``setup(spark)``.  The
    JVM launch itself is one sample per run (``run.start_s``), too few for
    a steady median, so it is left out of ``run.setup``."""
    state = None
    for i in range(SETUP_REPEATS):
        started = session.restart()
        t0 = time.perf_counter()
        state = setup(session.spark)
        reg = time.perf_counter() - t0
        if i >= SETUP_WARMUP:
            run.register.append(reg)
            run.setup.append(started + reg)
    return state


CYCLE_SECONDS = 10


def run_cycles(seconds: float, cycle) -> None:
    """Run one whole cycle of the op list per full CYCLE_SECONDS of
    ``seconds``, at least one.  The op list then depends only on the seed
    and ``seconds``, never on how fast the host or the engine is; a cycle
    takes about CYCLE_SECONDS or more on a 4-core host."""
    for n in range(max(1, int(seconds // CYCLE_SECONDS))):
        cycle(n)


# ------------------------------------------------------------- timed ops
def gql_op(tracer, run, db, text: str, family: str, kind: str, group=None):
    """One GQL statement as a timed op, read results pulled with ``.rows``.
    Returns (StatementResult or None, rows or None, error text or None).

    Traced, the statement is first parsed on its own and its target
    group's DataFrame materialized on its own, so ``exec`` then finds both
    done once; after ``exec`` the physical plan is built before the rows
    are pulled."""
    from gqlite_spark.gql import parser as gql_parser
    res = rows = err = None
    with tracer.op(family, kind):
        t0 = time.perf_counter()
        try:
            if tracer.enabled:
                with tracer.span("gql.parse"):
                    gql_parser.parse(text)
                if group is not None:
                    with tracer.span("catalog.to_df"):
                        group.to_df()
            with tracer.span("executor.exec"):
                res = db.exec(text)[0]
            if kind == "read" and res.status != "ERROR":
                if tracer.enabled and res.df is not None:
                    with tracer.span("catalyst.plan"):
                        res.df._jdf.queryExecution().executedPlan()
                with tracer.span("execute") as s:
                    rows = res.rows
                    s["result_rows"] = len(rows)
        except Exception as e:  # counted as a failed op by the caller
            err = f"raised {type(e).__name__}: {str(e)[:200]}"
        run.timed(family, kind, time.perf_counter() - t0)
    return res, rows, err


def df_op(tracer, run, family: str, build):
    """One DataFrame pipeline call as a timed read: ``build()`` returns a
    DataFrame (pulled in full with ``toArrow``) or a finished Python value.
    Returns (value or None, error text or None)."""
    from pyspark.sql import DataFrame
    out = err = None
    with tracer.op(family, "read"):
        t0 = time.perf_counter()
        try:
            out = build()
            if isinstance(out, DataFrame):
                if tracer.enabled:
                    with tracer.span("catalyst.plan"):
                        out._jdf.queryExecution().executedPlan()
                with tracer.span("execute") as s:
                    out = out.toArrow()
                    s["result_rows"] = out.num_rows
        except Exception as e:  # counted as a failed op by the caller
            err = f"raised {type(e).__name__}: {str(e)[:200]}"
        run.timed(family, "read", time.perf_counter() - t0)
    return out, err
