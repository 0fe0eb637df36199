"""``batch_reference``: one client in a closed loop over the
SimpleBenchmark-mapped reference suites, run as batch queries on
seeded sf0.1-sized tables and materialized through the noop sink."""

from __future__ import annotations

import os
import random
import time

from perfbench import data
from perfbench.measure import exec_metrics, union_ms

# Suite -> (registered query whose oracle checks it, or None; tables read)
SUITES = {
    "consume": (None, ("lineitem",)),
    "consumeproduce": (None, ("lineitem",)),
    "streamprocess": ("filter_project", ("lineitem",)),
    "streamcount": (None, ("events",)),
    "streamcountwindowed": ("windowed_count_tumbling", ("events",)),
    "streamtablejoin": ("join_stream_table", ("events", "customer")),
    "streamstreamjoin": ("join_interval_inner", ("events",)),
    "tabletablejoin": ("join_table_table", ("orders", "customer")),
    "yahoo": ("yahoo_pipeline", ("events", "customer")),
}
# Oracles for the suites that have no registered query of their own.
STREAMCOUNT_SQL = ("SELECT user_id, COUNT(*) AS count FROM events "
                   "WHERE user_id IS NOT NULL GROUP BY user_id")
LINEITEM_FINGERPRINT = ("SELECT count(*) AS n, sum(l_orderkey) AS k, "
                        "sum(l_linenumber) AS ln FROM {src}")
# Five rounds give 45 samples: p75 with at least ten beyond it.
MIN_ROUNDS = 5


class BatchReference:
    name = "batch_reference"
    unit = "queries/s"
    tail_cap = 75.0

    @property
    def spark(self):
        return self.ctx.spark

    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = None
        self.out_dir = os.path.join(ctx.work, "produced")
        from kafkadirect_spark.plans import QUERIES
        from kafkadirect_spark.plans.queries import stream_count
        from kafkadirect_spark.sources.batch import load_table
        self.load_table = load_table
        self.builders = {
            "consume": lambda s, d: load_table(s, d, "lineitem"),
            "consumeproduce": lambda s, d: load_table(s, d, "lineitem"),
            "streamcount": stream_count,
        }
        for suite, (qname, _) in SUITES.items():
            if qname:
                self.builders[suite] = QUERIES[qname]
        self.ops: list[dict] = []
        self.checked = None

    # -- set-up -------------------------------------------------------------

    def stage(self, out_dir: str) -> None:
        data.write_batch_tables(out_dir, self.ctx.seed)
        self.data_dir = out_dir

    def warm_up(self) -> None:
        """One round of the nine suites through their sinks, then the
        output check, which runs every suite once more.  Together they
        are the fixed warm-up; the check also stays outside the timed
        window this way."""
        rng = random.Random(self.ctx.seed + 1)
        for suite in rng.sample(list(SUITES), len(SUITES)):
            self._run_op(suite, None)
        self.checked = self._check_all()

    # -- one operation --------------------------------------------------------

    def _materialize(self, suite, df) -> None:
        if suite == "consumeproduce":
            df.write.mode("overwrite").parquet(self.out_dir)
        else:
            df.write.format("noop").mode("overwrite").save()

    def _run_op(self, suite: str, op_id: str | None) -> dict:
        """Build and materialize one suite.  With tracing on, first time
        direct calls to ``load_table`` for each table the suite reads,
        then the build, Catalyst planning and execution separately."""
        tr, build = self.ctx.tracer, self.builders[suite]
        rec = {"suite": suite, "op": op_id}
        t0 = time.perf_counter()
        if tr.enabled and op_id is not None:
            self.spark.sparkContext.setJobGroup(op_id, suite)
            with tr.span("op", op=op_id):
                for t in SUITES[suite][1]:
                    with tr.span("sources.load_table"):
                        self.load_table(self.spark, self.data_dir, t)
                with tr.span("plans.build"):
                    df = build(self.spark, self.data_dir)
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec.materialize"):
                    self._materialize(suite, df)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     None)
        else:
            self._materialize(suite, build(self.spark, self.data_dir))
        rec["latency_ms"] = (time.perf_counter() - t0) * 1000.0
        return rec

    # -- timed window -----------------------------------------------------------

    def measure(self) -> dict:
        """Whole rounds, each a seeded permutation of the nine suites,
        until ``seconds`` have passed and at least ``MIN_ROUNDS`` are
        done.  Whole rounds keep every suite equally often in the
        sample, so its percentiles do not depend on where the window
        happened to cut a round."""
        rng = random.Random(self.ctx.seed)
        t0 = time.perf_counter()
        attempted = failed = rounds = 0
        while (time.perf_counter() - t0 < self.ctx.seconds
               or rounds < MIN_ROUNDS):
            rounds += 1
            for suite in rng.sample(list(SUITES), len(SUITES)):
                attempted += 1
                op_id = f"op-{attempted}"
                try:
                    self.ops.append(self._run_op(suite, op_id))
                except Exception as e:  # counted, reported, never hidden
                    failed += 1
                    print(f"FAILED {suite}: {type(e).__name__}: "
                          f"{str(e).splitlines()[0][:200]}", flush=True)
        elapsed = time.perf_counter() - t0
        return {"latencies_ms": [o["latency_ms"] for o in self.ops],
                "ops_per_s": len(self.ops) / elapsed,
                "attempted": attempted, "failed": failed, "notes": [],
                "note": (f"{len(self.ops)} queries in {rounds} rounds "
                         f"over {elapsed:.2f} s")}

    # -- correctness ----------------------------------------------------------------

    def check(self) -> tuple[int, int, list[str]]:
        return self.checked

    def _check_all(self) -> tuple[int, int, list[str]]:
        """Each suite once against DuckDB: registered suites through
        their ``oracle_sql()`` entry with ``check_oracle --exact``'s
        canonicalization; the rest against the SQL above."""
        import duckdb

        from __spark_entry__ import oracle_sql
        from tools.check_oracle import canon_pandas, exact_hash

        oracles = oracle_sql()
        con = duckdb.connect()
        for t in data.SF01_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        failed, notes = 0, []
        for suite, (qname, _) in SUITES.items():
            try:
                ok = self._check_suite(suite, qname, con, oracles,
                                       canon_pandas, exact_hash)
            except Exception as e:
                ok = False
                notes.append(f"{suite}: {type(e).__name__}: "
                             f"{str(e).splitlines()[0][:200]}")
            if not ok:
                failed += 1
                notes.append(f"{suite}: result differs from DuckDB")
        con.close()
        return len(SUITES), failed, notes

    def _check_suite(self, suite, qname, con, oracles, canon, digest) -> bool:
        if suite in ("consume", "consumeproduce"):
            src = ("lineitem" if suite == "consume"
                   else f"read_parquet('{self.out_dir}/*.parquet')")
            if suite == "consume":
                from pyspark.sql import functions as F
                df = self.builders[suite](self.spark, self.data_dir)
                got = tuple(df.agg(F.count(F.lit(1)), F.sum("l_orderkey"),
                                   F.sum("l_linenumber")).first())
            else:
                got = con.execute(LINEITEM_FINGERPRINT.format(
                    src=src)).fetchone()
            want = con.execute(LINEITEM_FINGERPRINT.format(
                src="lineitem")).fetchone()
            return tuple(got) == tuple(want)
        sql = oracles[qname] if qname else STREAMCOUNT_SQL
        got = canon(self.builders[suite](self.spark, self.data_dir).toPandas())
        want = canon(con.execute(sql).df())
        return digest(got) == digest(want)

    # -- traced run -------------------------------------------------------------------

    def layers(self, jobs: dict) -> dict:
        tr = self.ctx.tracer
        op_ids = {o["op"] for o in self.ops}
        mine = [j for j in jobs.values() if j["group"] in op_ids]
        n = max(len(self.ops), 1)
        per_op_jobs: dict[str, list] = {}
        for j in mine:
            if j["t1"] is not None:
                per_op_jobs.setdefault(j["group"], []).append(
                    (j["t0"], j["t1"]))
        between = 0.0
        for s in tr.spans:
            if s["name"] != "op" or s["op"] not in op_ids:
                continue
            inside = sum((c["end"] - c["start"]) for c in tr.spans
                         if c["op"] == s["op"] and c["name"] in (
                             "sources.load_table", "plans.build",
                             "catalyst.plan"))
            wall = s["end"] - s["start"]
            between += max(0.0, 1000.0 * (wall - inside) - union_ms(
                per_op_jobs.get(s["op"], [])))
        out = {
            "sources.load_table_ms": tr.total_ms("sources.load_table") / n,
            "plans.build_ms": tr.total_ms("plans.build") / n,
            "catalyst.plan_ms": tr.total_ms("catalyst.plan") / n,
            "exec.between_jobs_ms": between / n,
        }
        out.update(exec_metrics(mine, len(self.ops)))
        return out
