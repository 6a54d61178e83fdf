"""Closed-loop batch workloads: one caller runs the workload's queries in
sequence, each through the public registry exactly as a caller would
(``queries()[name](spark, sf_dir)``), and writes the result to Spark's
``noop`` sink. A query's latency is its construction plus its execution
until the last row reaches the sink.
"""

from __future__ import annotations

import random
import time
import traceback

from perfbench import eventlog
from perfbench.gen import make_tables, write_tables
from perfbench.measure import Outcome, Tracer, median
from perfbench.oracle import DuckOracle, same_result

WORKLOADS = {
    # Construction-time eager actions (the triangle count's orientation
    # and checkpointed edge list), pinned localCheckpoint blocks, and the
    # mapInPandas decode across the Python boundary, besides the Catalyst,
    # codegen and shuffle work every query has.
    "llm_graph_batch": (
        "dedup_minhash_lsh_pairs",
        "graph_triangle_count",
        "multimodal_jpeg_refined_real",
    ),
}

# Share of the generator's scale-1.0 row counts (gen.BASE_ROWS): lineitem
# 12,000 rows, documents 100. Small so runs fit the budget in README.md.
SCALE = 0.002
# --seconds buys one timed pass per PASS_SECONDS, at least MIN_TIMED_PASSES.
# The count is fixed, not a time window: passes keep getting faster as the
# JIT compiles more of the engine, so a window would measure a fast host
# at a later, faster point of that curve than a slow one.
PASS_SECONDS = 4
MIN_TIMED_PASSES = 3
RESTARTS = 3


class BatchRun:
    def __init__(self, workload: str, seed: int, seconds: int, tracer: Tracer, work: str):
        self.names = WORKLOADS[workload]
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.data_dir = f"{work}/data"
        self.outcome = Outcome()
        write_tables(make_tables(seed, SCALE), self.data_dir)
        # per timed pass: {query: (construct_s, execute_s, construct_jobs)}
        self.passes: list[dict[str, tuple[float, float, int]]] = []
        self.pass_s: list[float] = []
        self.held_mb: list[float] = []
        self.results: dict = {}  # query -> pandas result of the warm-up pass
        self.recovery: list[float] = []

    def run(self) -> None:
        from gearpump_spark.session import get_spark

        import __spark_entry__ as entry

        self.registry = entry.queries()
        tr = self.tracer
        with tr.span("run", "run"):
            t0 = time.perf_counter()
            with tr.span("get_spark", "session") as s:
                spark = get_spark()
            self.get_spark_s = s.seconds
            # warm-up: every query once, its result collected for the check
            for name in self._order():
                self._query(spark, name, "warmup", collect=True)
            self.setup_s = time.perf_counter() - t0

            for p in range(max(MIN_TIMED_PASSES, self.seconds // PASS_SECONDS)):
                with tr.span(f"pass{p}", "pass") as s:
                    self.passes.append(self._pass(spark, f"p{p}"))
                self.pass_s.append(s.seconds)
            self.persistent_rdds = _persistent_rdds(spark) if tr.enabled else 0

            # Restart: a new session (the driver JVM stays up), then the
            # workload's first query to its last row at the sink.
            for i in range(RESTARTS):
                with tr.span(f"restart{i}", "session") as s:
                    spark.stop()
                    spark = get_spark()
                    self._query(spark, self.names[0], f"restart{i}")
                self.recovery.append(s.seconds)
        spark.stop()  # also completes the event log

    def _order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def _pass(self, spark, tag: str) -> dict[str, tuple[float, float, int]]:
        return {name: self._query(spark, name, tag) for name in self._order()}

    def _query(self, spark, name: str, tag: str, collect: bool = False) -> tuple[float, float, int]:
        tr = self.tracer
        sc = spark.sparkContext
        group = f"{tr.run_id}|{tag}|{name}"
        jobs = 0
        try:
            with tr.span(name, "query"):
                if tr.enabled:
                    # set before construction, so construction-time jobs are
                    # charged to this query and not to the previous one
                    sc.setJobGroup(f"{group}|construct", name)
                with tr.span(f"{name}.construct", "queries") as c:
                    df = self.registry[name](spark, self.data_dir)
                if tr.enabled:
                    jobs = len(sc.statusTracker().getJobIdsForGroup(f"{group}|construct"))
                    sc.setJobGroup(f"{group}|execute", name)
                with tr.span(f"{name}.execute", "operators") as e:
                    if collect:
                        self.results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if tr.enabled:
                    self.held_mb.append(_storage_mb(spark))
        except Exception:
            self.outcome.fail(f"{name} ({tag}): {traceback.format_exc(limit=3)}")
            return (0.0, 0.0, 0)
        self.outcome.ok()
        return (c.seconds, e.seconds, jobs)

    def check(self) -> None:
        """Untimed: each warm-up result hashed against its DuckDB oracle
        over the same files. A query that failed in the warm-up is already
        counted and is not checked again."""
        from gearpump_spark.queries import all_oracles

        oracles = all_oracles()
        duck = DuckOracle(self.data_dir)
        try:
            for name, got in self.results.items():
                try:
                    want = duck.run(oracles[name])
                except Exception:
                    self.outcome.fail(f"{name} (oracle): {traceback.format_exc(limit=3)}")
                    continue
                if same_result(got, want):
                    self.outcome.ok()
                else:
                    self.outcome.fail(f"{name}: result differs from the oracle")
        finally:
            duck.close()

    # -- reports ------------------------------------------------------------
    def query_latency_s(self) -> dict[str, float]:
        """Each query's median latency over the timed passes."""
        return {
            name: median([sum(p[name][:2]) for p in self.passes]) for name in self.names
        }

    def end_to_end(self, peak_rss_mb: float) -> dict:
        per_query = sorted(self.query_latency_s().values())
        return {
            "setup_s": self.setup_s,
            # the median pass, query by query: one slow call moves it less
            "pass_s": sum(per_query),
            "latency_p50_ms": median(per_query) * 1e3,
            # too few calls for a 99th percentile: the slowest query
            "latency_p99_ms": per_query[-1] * 1e3,
            "recovery_s": median(self.recovery),
            "peak_rss_mb": peak_rss_mb,
        }

    def samples(self) -> dict:
        return {
            "passes": len(self.pass_s),
            "query_calls": len(self.pass_s) * len(self.names),
            "pass_s": [round(x, 3) for x in self.pass_s],
            "recovery_s": [round(x, 3) for x in self.recovery],
        }

    def per_layer(self, log_dir: str) -> dict:
        m = {
            "session.get_spark_s": self.get_spark_s,
            "queries.construct_s": median([sum(v[0] for v in p.values()) for p in self.passes]),
            "queries.construct_jobs": median([sum(v[2] for v in p.values()) for p in self.passes]),
            "operators.execute_s": median([sum(v[1] for v in p.values()) for p in self.passes]),
            "operators.checkpoint_mb_held": max(self.held_mb, default=0.0),
            "operators.persistent_rdds": self.persistent_rdds,
            "trace.pass_s": sum(self.query_latency_s().values()),
        }
        for name in self.names:
            m[f"queries.construct_s.{name}"] = median([p[name][0] for p in self.passes])
            m[f"operators.execute_s.{name}"] = median([p[name][1] for p in self.passes])
        # event-log counters of the timed passes' execute phases, per pass
        timed = {f"p{i}" for i in range(len(self.passes))}
        total = eventlog.JobCounters()
        for group, c in eventlog.by_group(eventlog.read_jobs(log_dir)).items():
            parts = (group or "").split("|")
            if len(parts) == 4 and parts[1] in timed and parts[3] == "execute":
                total.add(c)
        n = max(1, len(self.passes))
        for k in eventlog.COUNTERS:
            m[f"operators.{k}"] = getattr(total, k) / n
        return m


def _storage_mb(spark) -> float:
    """Storage memory held by cached and checkpointed blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def _persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
