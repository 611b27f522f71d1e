"""Per-layer metrics of a traced run, from the event log and the spans.

Each metric is the median over the run's traced iterations (or over the
ladder's repetitions, which run on both workloads' images). A count or
ratio that a workload does not exercise reads 0: the table path and the
pair producers run only on ``dataset_pairs``, and ``trace.ladder_coverage``
is defined only where the ladder's last rung is the iteration itself.
"""

from __future__ import annotations

import statistics

from eventlog import JOIN_NODE, Log, stage_summary, window_summary
from workloads import PAIR_QUERIES

LADDER = [
    "sources.scan_s", "functions.h3_expr.encode_s", "operators.spatial.join_s",
    "operators.agg.explode_s", "operators.agg.salted_count_s",
]
SPARK = {
    "driver_gap_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "spill_bytes": "B",
    "peak_exec_mem_bytes": "B", "task_skew": "ratio",
    "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
}
# times of layers only one workload calls: printed and kept in the trace
# file, but not in the JSON result, where a time that reads 0 on every
# run of the other workload would look like a constant
PRINTED_ONLY = {
    "entry.plan_s": "s",
    "sources.iceberg_lite.job_s": "s",
    "operators.merge.upsert_s": "s",
    "trace.log_coverage": "ratio",
}
PER_LAYER = {
    **{name: "s" for name in LADDER},
    "operators.spatial.plan_s": "s",
    "operators.spatial.rows_out": "count",
    "operators.agg.partial_rows": "count",
    "sources.iceberg_lite.bytes_written": "B",
    "sources.iceberg_lite.files_written": "count",
    "sources.iceberg_lite.table_bytes_per_row": "B/row",
    "operators.merge.rows_written_per_upserted_row": "ratio",
    **{f"{mod}.{kind}.{q}": unit
       for q, mod in PAIR_QUERIES.items()
       for kind, unit in (("candidate_pairs", "count"), ("emitted_pairs", "count"),
                          ("useful_ratio", "ratio"))},
    **{f"spark.task_skew.{q}": "ratio" for q in PAIR_QUERIES},
    **{f"spark.{k}": u for k, u in SPARK.items()},
    "trace.overhead": "ratio",
    "trace.ladder_coverage": "ratio",
}

# the flagship's tiling join (equi-join on the cell id alone) and the
# phase-1 partial of salted_count (grouping keys end with the salt)
SPATIAL_JOIN = r"^BroadcastHashJoin \[h3#\d+L?\], \[h3#\d+L?\]"
SALTED_PARTIAL = r"^HashAggregate\(keys=\[.*(_salt|_groupingexpression)#\d+L?\], functions=\[partial_count\(1\)\]"


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(wl, log_dir: str, tracer, plain: list[dict], traced: list[dict],
              ladder: list[dict], wall_s: float) -> dict:
    log = Log(log_dir)
    m = {k: 0.0 for k in {**PER_LAYER, **PRINTED_ONLY}}

    windows = [window_summary(log, f"it:{it['k']}", it["start"], it["end"]) for it in traced]
    for key in SPARK:
        m[f"spark.{key}"] = _median(w[key] for w in windows)
    # how much of the Python-measured iteration the log's own clock
    # accounts for (first job/SQL execution start to last end)
    m["trace.log_coverage"] = _median((w["span_s"] + w["log_gap_s"]) / w["wall_s"] for w in windows)
    m["trace.overhead"] = _median(it["wall"] for it in traced) / _median(it["wall"] for it in plain)

    def python_s(tag: str, it: dict) -> float:
        return sum(s["end"] - s["start"] for s in tracer.spans_of(tag, it["start"], it["end"]))

    def jobs(tag: str, it: dict) -> list:
        """Jobs of the ``tag`` blocks inside iteration ``it``."""
        wins = [(s["start"], s["end"]) for s in tracer.spans_of(tag, it["start"], it["end"])]
        lo, hi = it["start"] * 1000, it["end"] * 1000
        return [j for j in log.jobs_for(tag, wins) if lo <= j.submit_ms <= hi]

    m["operators.spatial.plan_s"] = _median(python_s("layer:operators.spatial", it) for it in traced)
    m["entry.plan_s"] = _median(python_s("layer:entry", it) for it in traced)
    rows = "number of output rows"
    m["operators.spatial.rows_out"] = _median(
        sum(log.plan_metric(jobs(f"it:{it['k']}", it), rows, SPATIAL_JOIN)) for it in traced)
    m["operators.agg.partial_rows"] = _median(
        sum(log.plan_metric(jobs(f"it:{it['k']}", it), rows, SALTED_PARTIAL)) for it in traced)

    ice = [jobs("layer:sources.iceberg_lite", it) for it in traced]
    m["sources.iceberg_lite.job_s"] = _median(sum(j.end_ms - j.submit_ms for j in js) / 1000 for js in ice)
    m["sources.iceberg_lite.bytes_written"] = _median(
        stage_summary(log.stages_of(js))["bytes_written"] for js in ice)
    m["sources.iceberg_lite.files_written"] = _median(
        sum(log.plan_metric(js, "number of written files", "")) for js in ice)
    if "merge_table" in dict(wl.ops):
        m["sources.iceberg_lite.table_bytes_per_row"] = _median(wl.table_bytes_per_row)
        m["operators.merge.upsert_s"] = _median(it["lat"]["merge_table"] for it in plain)
        m["operators.merge.rows_written_per_upserted_row"] = _median(
            stage_summary(log.stages_of(jobs("op:merge_table", it)))["records_written"] / wl.batch_rows
            for it in traced)

    for q, mod in PAIR_QUERIES.items():
        if q not in dict(wl.ops):
            continue
        cand, emitted, skew = [], [], []
        for it in traced:
            js = jobs(f"op:{q}", it)
            cand.append(max(log.plan_metric(js, rows, JOIN_NODE), default=0))
            emitted.append(it["rows"][q])
            skew.append(stage_summary(log.stages_of(js))["task_skew"])
        m[f"{mod}.candidate_pairs.{q}"] = _median(cand)
        m[f"{mod}.emitted_pairs.{q}"] = _median(emitted)
        m[f"{mod}.useful_ratio.{q}"] = _median(e / c for e, c in zip(emitted, cand) if c)
        m[f"spark.task_skew.{q}"] = _median(skew)

    if ladder:
        reps = sorted({r["rep"] for r in ladder})
        spans = {
            (r["rep"], r["name"]):
                stage_summary(log.stages_of(log.jobs_for(r["tag"], [(r["start"], r["end"])])))["span_s"]
            for r in ladder
        }
        for i, name in enumerate(LADDER):
            m[name] = _median(
                spans[(rep, name)] - (spans[(rep, LADDER[i - 1])] if i else 0.0) for rep in reps)
        if wl.ladder_is_iteration:
            m["trace.ladder_coverage"] = (sum(m[n] for n in LADDER) + m["spark.driver_gap_s"]) / wall_s
    return m
