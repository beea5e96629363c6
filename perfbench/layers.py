"""Fold a traced run's raw measurements into per-layer metrics.

Sources, per measured pass:
- Spark event log, folded by job group `<pass>|<unit>|<phase>`: jobs,
  stages, tasks, executor run/CPU/GC/deserialize time, shuffle, spill,
  input and output volumes (check-phase jobs excluded);
- span wrappers around the package's public functions (calls, seconds,
  self seconds);
- Catalyst phase times from the QueryExecution of every DataFrame the
  workload hands to a sink (noop write, stage write, selective upsert);
- /proc CPU of the driver, the JVM and the Python workers.

`PREDICTIONS` is the table written before measuring: which end-to-end
metric each layer metric should move, and on which workload.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

ALL = ("pipeline_posts", "queries", "curation_stream")

# layer metric -> (end-to-end metric it should move, workloads where it matters)
PREDICTIONS = {
    "session.start_s": ("setup_s", ALL),
    "construct.s": ("wall_s", ("queries",)),
    "construct.jobs": ("wall_s", ("queries", "curation_stream")),
    "catalyst.analysis_s": ("wall_s", ("queries",)),
    "catalyst.optimization_s": ("wall_s", ("queries",)),
    "catalyst.planning_s": ("wall_s", ("queries",)),
    "spark.jobs": ("wall_s", ("queries", "curation_stream")),
    "spark.stages": ("wall_s", ALL),
    "spark.tasks": ("wall_s", ALL),
    "spark.executor_run_s": ("wall_s", ALL),
    "spark.executor_cpu_s": ("cpu_s", ALL),
    "spark.gc_s": ("cpu_s", ALL),
    "spark.deserialize_s": ("wall_s", ALL),
    "spark.shuffle_read_mb": ("wall_s", ALL),
    "spark.shuffle_write_mb": ("wall_s", ALL),
    "spark.spill_mb": ("wall_s", ALL),
    "spark.input_mb": ("wall_s", ALL),
    "spark.output_mb": ("wall_s", ("pipeline_posts",)),
    "cpu.driver_s": ("cpu_s", ALL),
    "cpu.jvm_s": ("cpu_s", ALL),
    "cpu.pyworker_s": ("cpu_s", ("pipeline_posts", "queries")),
    "io.read_table.calls": ("wall_s", ("queries",)),
    "io.read_table.s": ("wall_s", ("queries",)),
    "io.write_stage_output.s": ("wall_s", ("pipeline_posts",)),
    "io.write_stage_output.mb": ("wall_s", ("pipeline_posts",)),
    "io.write_stage_output.files": ("wall_s", ("pipeline_posts",)),
    "io.pin_stats.calls": ("leaked_rdds", ("queries", "curation_stream")),
    "storage.persisted_rdds": ("leaked_rdds", ("queries", "curation_stream")),
    "leaked_rdds": ("peak_rss_mb", ("queries", "curation_stream")),
    "scale.selective_upsert.s": ("batch_p50_s", ("curation_stream", "queries")),
    "scale.selective_upsert.calls": ("batch_p50_s", ("curation_stream", "queries")),
    "scale.manifest_read.s": ("batch_p50_s", ("curation_stream",)),
    "store.files": ("batch_p50_s", ("curation_stream",)),
    "store.mb": ("batch_p50_s", ("curation_stream",)),
    "stage.<name>.{s,jobs,out_mb}": ("wall_s", ("pipeline_posts",)),
    "flatten.s": ("wall_s", ("pipeline_posts",)),
    "curate.{s,jobs}": ("batch_p50_s", ("curation_stream",)),
    "curate.growth": ("wall_s", ("curation_stream",)),
    "query.<name>.{s,jobs}": ("wall_s", ("queries",)),
    "tmp.mb_left": ("(none: disk left behind)", ("queries",)),
    "trace.wall_s": ("(tracing overhead = trace.wall_s - untraced wall_s)", ALL),
}

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "deserialize_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "input_mb", "output_mb")


def fold(passes, spans, since, catalyst, groups, *, session_s, wall_s, record):
    """Return (per_layer metrics, detailed ledger) for the measured passes."""
    n = len(passes)
    measured = {f"p{k}" for k in range(1, n + 1)}
    spark = defaultdict(float)
    by_unit: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    construct_jobs = 0.0
    for group, row in groups.items():
        pass_id, unit, phase = (group.split("|") + ["", ""])[:3]
        if pass_id not in measured or phase == "check":
            continue
        for key in SPARK_KEYS:
            spark[key] += row.get(key, 0.0)
        by_unit[unit]["jobs"] += row.get("jobs", 0.0)
        by_unit[unit][f"{phase}_jobs"] += row.get("jobs", 0.0)
        if phase == "construct":
            construct_jobs += row.get("jobs", 0.0)
    totals = spans.totals(since)
    span = lambda name, key: totals.get(name, {}).get(key, 0.0) / n  # noqa: E731
    phases = defaultdict(float)
    for ph in catalyst:
        for k, v in ph.items():
            phases[k] += v
    writes = [r for r in spans.records if r["name"] == "io.write_stage_output"
              and r["end"] is not None and r["start"] >= since]
    cpu = lambda kind: statistics.median(p["cpu"].get(kind, 0.0) for p in passes)  # noqa: E731

    layer = {
        "session.start_s": session_s,
        "trace.wall_s": wall_s,
        "construct.s": span("construct", "s"),
        "construct.jobs": construct_jobs / n,
        "catalyst.analysis_s": phases["analysis"] / n,
        "catalyst.optimization_s": phases["optimization"] / n,
        "catalyst.planning_s": phases["planning"] / n,
        **{f"spark.{k}": spark[k] / n for k in SPARK_KEYS},
        "cpu.driver_s": cpu("driver"),
        "cpu.jvm_s": cpu("jvm"),
        "cpu.pyworker_s": cpu("pyworker"),
        "io.read_table.calls": span("io.read_table", "calls"),
        "io.read_table.s": span("io.read_table", "s"),
        "io.write_stage_output.calls": span("io.write_stage_output", "calls"),
        "io.write_stage_output.s": span("io.write_stage_output", "s"),
        "io.write_stage_output.mb": sum(r["bytes"] for r in writes) / n / 2**20,
        "io.write_stage_output.files": sum(r["files"] for r in writes) / n,
        "io.pin_stats.calls": span("io.pin_stats", "calls"),
        "storage.persisted_rdds": passes[-1]["persisted_rdds"],
        "leaked_rdds": record["leaked_rdds"],
        "scale.selective_upsert.calls": span("scale.selective_upsert", "calls"),
        "scale.selective_upsert.s": span("scale.selective_upsert", "s"),
        "scale.manifest_read.calls": span("scale.manifest_read", "calls"),
        "scale.manifest_read.s": span("scale.manifest_read", "s"),
        "store.files": record["store"]["files"],
        "store.mb": record["store"]["mb"],
        "tmp.mb_left": record["tmp_mb_left"],
    }

    out_mb = defaultdict(float)
    for r in writes:
        out_mb[r.get("unit", "")] += r["bytes"] / 2**20
    units: dict[str, dict] = {}
    for p in passes:
        for u in p["units"]:
            row = units.setdefault(u["unit"], {"s": [], "ok": True})
            row["s"].append(u.get("s", 0.0))
            row["ok"] = row["ok"] and u.get("ok", False)
            for key in ("dup_flagged", "committed", "labels_changed", "quality_pass", "result"):
                if key in u:
                    row.setdefault(key, []).append(u[key])
    for name, row in units.items():
        # per occurrence: a query or stage runs once per pass, a batch once
        times = len(row["s"])
        jobs = by_unit.get(name, {})
        row["jobs"] = jobs.get("jobs", 0.0) / times
        row["construct_jobs"] = jobs.get("construct_jobs", 0.0) / times
        row["out_mb"] = out_mb.get(name, 0.0) / times
    batches = [(u["unit"], u["s"]) for p in passes for u in p["units"]
               if u["unit"].startswith("batch:") and u.get("ok")]
    detail = {
        "units": units,
        "spans": totals,
        "spark_unattributed": groups.get("", {}),
        "flatten.s": statistics.mean(units["flatten"]["s"]) if "flatten" in units else None,
        "curate": {
            "s": [s for _, s in batches],
            "jobs": [units[b]["jobs"] for b, _ in batches],
            "dup_flagged": sum(sum(units[b].get("dup_flagged", [])) for b, _ in batches),
            "committed": sum(sum(units[b].get("committed", [])) for b, _ in batches),
            "labels_changed": sum(sum(units[b].get("labels_changed", [])) for b, _ in batches),
            "growth": batches[-1][1] / batches[0][1] if len(batches) > 1 else None,
        } if batches else None,
    }
    return layer, detail
