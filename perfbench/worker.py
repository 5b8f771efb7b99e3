"""One benchmark run: one workload, one Spark session, one client.

Started by ``run.py`` with the run's environment already set (per-run
``TMPDIR`` and ``SPARK_LOCAL_DIRS``, ``PYTHONPATH`` at the repo root,
``SPARK_GRAFT_CPUS``); writes its result as JSON to ``--out``.

A run is: set-up (session start, input generation, one untimed op),
then a closed loop of timed ops for ``--seconds``, each followed by an
untimed output check. With ``--trace 1`` the loop alternates untraced
and traced ops; the traced ones give the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import re
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]

from metrics import (  # noqa: E402
    END_TO_END, ENTITIES, LAYERS, PER_LAYER, PHASES, QUERIES)
from spans import Tracer, parquet_sizes  # noqa: E402


class FirstLoad:
    """Each op is one ``Pipeline.run_full`` into a fresh warehouse over
    the same messy CSVs at half the reference volume (~53.5k rows)."""

    SCALE = 0.5

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark, self.dir, self.seed = spark, run_dir, seed
        self.pipe = None
        self.wh = ""

    def generate(self) -> None:
        import gen_banking
        from python_etl_pipeline_spark.cli import discover_files

        self.snap = gen_banking.write_snapshot(
            f"{self.dir}/csv", self.seed, self.SCALE)
        self.files = discover_files(f"{self.dir}/csv")

    def rows_per_op(self) -> int:
        return sum(self.snap["rows"].values())

    def op(self, i: int) -> float:
        from python_etl_pipeline_spark.pipeline import Pipeline

        self.wh = f"{self.dir}/wh{i}"
        t0 = time.perf_counter()
        self.pipe = Pipeline(self.spark, self.wh)
        self.pipe.run_full(self.files)
        return time.perf_counter() - t0

    def traced_op(self, i: int, tracer: Tracer) -> tuple[float, dict]:
        with tracer.patched():
            wall = self.op(i)
        # the warehouse is new, so the op wrote every file in it
        return wall, self._layer_metrics(tracer.op_spans(tracer.op),
                                         parquet_sizes(self.wh))

    def _layer_metrics(self, spans: list[dict], written: dict) -> dict:
        m: dict[str, float] = {}
        by_name = {s["name"]: s for s in spans}
        full = by_name["pipeline.run_full"]
        inner = 0.0
        for p in PHASES[:3]:
            s = by_name[f"pipeline.{p}"]
            m[f"pipeline.{p}_s"] = s["end"] - s["start"]
            m[f"spark.jobs.{p}"] = s["jobs"]
            inner += s["end"] - s["start"]
        m["pipeline.finish_s"] = full["end"] - full["start"] - inner
        m["spark.jobs.finish"] = full["jobs"] - sum(
            m[f"spark.jobs.{p}"] for p in PHASES[:3])
        m["spark.jobs"] = full["jobs"]
        m["spark.stages"] = full["stages"]
        for layer in LAYERS:
            m[f"warehouse.write_s.{layer}"] = 0.0
            for e in ENTITIES:
                m[f"warehouse.write_s.{layer}.{e}"] = 0.0
        for s in spans:
            if s["name"] == "warehouse.write":
                d = s["end"] - s["start"]
                m[f"warehouse.write_s.{s['layer']}"] += d
                m[f"warehouse.write_s.{s['layer']}.{s['table']}"] += d
        m["ingest_log.append_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "ingest_log.mark_processed_batch")
        total = 0
        for layer in LAYERS:
            files = {p: n for p, n in written.items()
                     if p.startswith(f"{self.wh}/{layer}/")}
            m[f"warehouse.bytes_written.{layer}"] = sum(files.values())
            m[f"warehouse.partitions_written.{layer}"] = len(
                {p.rsplit("/", 1)[0] for p in files})
            total += sum(files.values())
        m["warehouse.write_amp"] = total / self.snap["bytes"]
        return m

    def check(self) -> list[str]:
        """Reconciliation synced for every entity; production holds
        exactly the generator's distinct PKs; no PK twice in staging or
        production. Read back with DuckDB, not Spark."""
        import duckdb

        from python_etl_pipeline_spark.schemas import PRIMARY_KEYS

        errors = []
        rec = self.pipe.metrics.reconciliation
        con = duckdb.connect()
        for e in ENTITIES:
            if not rec.get(e, {}).get("synced"):
                errors.append(f"{e}: reconciliation {rec.get(e)}")
            pk = PRIMARY_KEYS[e]
            for layer in ("staging", "production"):
                n, nd = con.execute(
                    f"SELECT count(*), count(DISTINCT {pk}) FROM read_parquet("
                    f"'{self.wh}/{layer}/{e}/**/*.parquet')").fetchone()
                if n != nd:
                    errors.append(f"{e}: {n - nd} repeated PKs in {layer}")
                if layer == "production" and nd != len(self.snap["pks"][e]):
                    errors.append(f"{e}: {nd} PKs in production, "
                                  f"generator wrote {len(self.snap['pks'][e])}")
        con.close()
        return errors

    def check_once(self) -> list[str]:
        return []  # every op is checked on its own

    def discard(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)


class QueryMix:
    """Each op is one pass over ``QUERIES``, each query built with
    ``REGISTRY[name].spark(spark, sf_dir)`` and run into the noop sink."""

    SIZES = {"orders": 50_000, "lineitems": 300_000, "documents": 600}

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark, self.dir, self.seed = spark, run_dir, seed
        self.sf = f"{run_dir}/sf"

    def generate(self) -> None:
        import gen_tables
        from python_etl_pipeline_spark.queries import REGISTRY

        self.rows = gen_tables.generate(self.sf, self.seed, **self.SIZES)
        # rows of every table a query reads, summed over the pass
        self._rows_per_op = sum(
            n for name in QUERIES.values() for t, n in self.rows.items()
            if re.search(rf"\b{t}\b", REGISTRY[name].sql))

    def rows_per_op(self) -> int:
        return self._rows_per_op

    def op(self, i: int) -> float:
        from python_etl_pipeline_spark.queries import REGISTRY

        t0 = time.perf_counter()
        for name in QUERIES.values():
            (REGISTRY[name].spark(self.spark, self.sf)
             .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    def traced_op(self, i: int, tracer: Tracer) -> tuple[float, dict]:
        """Build, plan and execute each query as separate spans: the
        plan is forced on the DataFrame's own QueryExecution, which is
        then executed without planning again."""
        from python_etl_pipeline_spark.queries import REGISTRY

        m: dict[str, float] = {}
        t0 = time.perf_counter()
        for q, name in QUERIES.items():
            with tracer.span(f"query.{q}.build"):
                df = REGISTRY[name].spark(self.spark, self.sf)
            qe = df._jdf.queryExecution()
            with tracer.span(f"query.{q}.plan"):
                qe.executedPlan()
            with tracer.span(f"query.{q}.exec"):
                qe.toRdd().count()
        wall = time.perf_counter() - t0
        spans = {s["name"]: s for s in tracer.op_spans(tracer.op)}
        keys = ("build_s", "plan_s", "exec_s", "jobs", "stages")
        for q in QUERIES:
            steps = [spans[f"query.{q}.{k}"] for k in ("build", "plan", "exec")]
            for k, s in zip(keys, steps):
                m[f"query.{q}.{k}"] = s["end"] - s["start"]
            for k in ("jobs", "stages"):
                m[f"query.{q}.{k}"] = sum(s[k] for s in steps)
        for k in keys:
            m[f"query.pass.{k}"] = sum(m[f"query.{q}.{k}"] for q in QUERIES)
        m["spark.jobs"] = m["query.pass.jobs"]
        m["spark.stages"] = m["query.pass.stages"]
        return wall, m

    def check(self) -> list[str]:
        return []  # the pass writes nothing; see check_once

    def check_once(self) -> list[str]:
        """Each query's result against its DuckDB oracle, once per run."""
        import duckdb
        import parity

        from python_etl_pipeline_spark.queries import REGISTRY

        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        errors = []
        for q, name in QUERIES.items():
            ok, msg = parity.compare(
                name, REGISTRY[name].spark(self.spark, self.sf),
                con.execute(REGISTRY[name].sql).fetchdf())
            if not ok:
                errors.append(f"{q}: {msg}")
        con.close()
        return errors

    def discard(self) -> None:
        pass


WORKLOADS = {"first_load": FirstLoad, "query_mix": QueryMix}


def _peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus the Python driver's."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb = int(line.split()[1])
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gw.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default="")
    a = ap.parse_args()

    t_start = time.perf_counter()
    from python_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_start
    w = WORKLOADS[a.workload](spark, a.run_dir, a.seed)
    t = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t
    warm_s = w.op(-1)
    setup_s = time.perf_counter() - t_start

    errors = [f"set-up op: {e}" for e in w.check()]
    w.discard()
    # the once-per-run check runs before the timed loop: it re-runs the
    # op's work, so it also warms the JIT for the timed ops
    try:
        once = w.check_once()
    except Exception:
        once = [traceback.format_exc()]
    tracer = Tracer(spark) if a.trace else None
    walls: list[float] = []          # successful untraced ops
    traced: list[tuple[float, dict]] = []
    attempted = failed = 0
    total = 0.0
    log = [f"session {session_s:.3f}s, generate {gen_s:.3f}s, "
           f"set-up op {warm_s:.3f}s"]
    # traced runs alternate the order within each untraced/traced pair,
    # so warm-up drift does not bias trace.overhead_s
    order = [(False, True), (True, False)] if tracer else [(False,)]
    while True:
        for use_trace in order[(attempted // len(order[0])) % len(order)]:
            attempted += 1
            t = time.perf_counter()
            try:
                if use_trace:
                    tracer.op = attempted
                    traced.append(w.traced_op(attempted, tracer))
                    wall = traced[-1][0]
                else:
                    walls.append(w.op(attempted))
                    wall = walls[-1]
                log.append(f"op {attempted}{' traced' if use_trace else ''}"
                           f": {wall:.3f}s")
                op_errors = w.check()
            except Exception:
                op_errors = [traceback.format_exc()]
            total += time.perf_counter() - t
            w.discard()
            if op_errors:
                failed += 1
                errors += [f"op {attempted}: {e}" for e in op_errors]
        if total >= a.seconds and (not tracer or attempted >= 4):
            break
    if once:
        # every pass ran the query that produced the wrong result
        failed = attempted
        errors += once

    if tracer:
        metrics = {k: 0.0 for k in PER_LAYER}
        keys = set().union(*(m for _, m in traced))
        for k in keys:
            metrics[k] = statistics.median(m[k] for _, m in traced)
        metrics["session.start_s"] = session_s
        metrics["session.peak_rss_mb"] = _peak_rss_mb(spark)
        metrics["setup.gen_s"] = gen_s
        metrics["setup.warm_op_s"] = warm_s
        tmed = statistics.median(wall for wall, _ in traced)
        metrics["trace.op_p50_s"] = tmed
        metrics["trace.overhead_s"] = tmed - statistics.median(walls)
        units = PER_LAYER
        if a.spans:
            tracer.write(a.spans)
    else:
        units = END_TO_END
        metrics = {
            "op_p50_s": statistics.median(walls),
            "rows_per_s": w.rows_per_op() * len(walls) / sum(walls),
            "setup_s": setup_s,
        }
    _stop(spark)
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())},
        "errors": errors,
        "log": log,
    }
    Path(a.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
