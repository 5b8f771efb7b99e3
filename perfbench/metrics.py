"""Metric names and units the benchmark reports, and the query list.

``BENCHMARK.json`` must declare exactly these names; ``run.py`` checks
that before it runs anything. Every workload reports every metric: a
per-layer metric of a layer the workload never calls reads 0.
"""

from __future__ import annotations

ENTITIES = ("branches", "customers", "loans", "transactions")
LAYERS = ("staging", "transformed", "production")
PHASES = ("extract", "transform", "load", "finish")

# query_mix pass: short id -> registry name. The first two spend most
# of their time building the DataFrame (eager actions, many small
# jobs); the last two spend it executing the final plan.
QUERIES = {
    "tx17": "tx17_perplexity_buckets",
    "o5": "o5_offset_slice",
    "x24": "x24_salted_join",
    "dd3": "dd3_ngram_jaccard",
}

END_TO_END = {
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
}


def _per_layer() -> dict[str, str]:
    m = {f"pipeline.{p}_s": "s" for p in PHASES}
    for layer in LAYERS:
        m[f"warehouse.write_s.{layer}"] = "s"
        for e in ENTITIES:
            m[f"warehouse.write_s.{layer}.{e}"] = "s"
    for layer in LAYERS:
        m[f"warehouse.bytes_written.{layer}"] = "bytes"
        m[f"warehouse.partitions_written.{layer}"] = "count"
    m["warehouse.write_amp"] = "ratio"
    m["ingest_log.append_s"] = "s"
    m["spark.jobs"] = "count"
    m["spark.stages"] = "count"
    for p in PHASES:
        m[f"spark.jobs.{p}"] = "count"
    for q in (*QUERIES, "pass"):
        for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                     ("jobs", "count"), ("stages", "count")):
            m[f"query.{q}.{k}"] = u
    m["session.start_s"] = "s"
    m["session.peak_rss_mb"] = "MB"
    m["setup.gen_s"] = "s"
    m["setup.warm_op_s"] = "s"
    m["trace.op_p50_s"] = "s"
    m["trace.overhead_s"] = "s"
    return m


PER_LAYER = _per_layer()
