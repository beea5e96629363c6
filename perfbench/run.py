"""Engine benchmark: one command, one named workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. A run:

1. isolates itself in a fresh run directory inside the checkout
   (`.perfbench_runs/<workload>-<seed>-<pid>`) that TMPDIR, the artifact
   store, the Spark local/warehouse dirs, the event log and the JVM temp
   dir all point at, and deletes it at the end;
2. sets up: generates the seeded inputs, starts the session on local[4]
   and runs one warm-up pass — together `setup_s`;
3. measures passes until `--seconds` of pass time have elapsed (at least
   one pass), checking every pass's outputs outside the timed region;
4. prints a full JSON record, then, as the last line, the summary
   `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
   with `--trace 0`, the per-layer metrics with `--trace 1`.

End-to-end metrics: `setup_s`; `wall_s`, the pass time (for `queries` the
sum of every row's build and noop-write time); `cpu_s`, CPU seconds of the
whole process tree (driver, JVM, Python workers) during the pass;
`peak_rss_mb`, the summed peak resident memory of the tree's processes
during the pass (each process's peak is reset when the pass starts and
read when it ends, before the output checks);
`batch_p50_s`, the median latency of one unit of work (a query, a pipeline
run, a micro-batch). Failed or wrong operations count in `failed`.

Traced runs write the Spark event log, tag every job with a job group per
pass, unit (query, stage or batch) and phase, and wrap the package's
public layer functions in spans. Metrics of a run are medians over its
measured passes (per-layer sums are per measured pass).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, cpus: int) -> None:
    """Point every temp/artifact location of this process (and of the
    JVM and Python workers it starts) into `run_dir`."""
    import tempfile

    for sub in ("tmp", "artifacts", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_ARTIFACTS_DIR"] = os.path.join(run_dir, "artifacts")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(run_dir: str, cpus: int, trace: bool):
    from social_media_data_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -UsePerfData: no hsperfdata file outside the run directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def install_spans(ctx, spans) -> None:
    """Span wrappers around the public functions of every layer."""
    import ledger
    from social_media_data_pipeline_spark import io as eio
    from social_media_data_pipeline_spark import nlp, preprocessing, scale
    from social_media_data_pipeline_spark.functions import bpe, graph, kmeans
    from social_media_data_pipeline_spark.ml import inference
    from social_media_data_pipeline_spark.operators import dedup
    from social_media_data_pipeline_spark.sources import binary, json_flatten
    from social_media_data_pipeline_spark.streaming import curation

    def before_write(args, kwargs):
        ctx.phase("execute")
        ctx.record_plan(args[0])

    def after_write(rec, args, kwargs, out):
        rec["unit"] = ctx.unit
        path = args[1] if len(args) > 1 else kwargs["path"]
        rec["files"], rec["bytes"] = ledger.dir_size(path)

    def before_upsert(args, kwargs):
        ctx.record_plan(args[2] if len(args) > 2 else kwargs["updates"])

    spans.wrap(eio, "write_stage_output", "io.write_stage_output",
               before=before_write, after=after_write)
    spans.wrap(scale, "selective_upsert", "scale.selective_upsert", before=before_upsert)
    for module, names in (
        (eio, ["read_table", "pin_stats"]),
        (scale, ["manifest_read"]),
        (json_flatten, ["read_post_json", "flatten_posts", "extract_comments"]),
        (preprocessing, ["preprocess_posts"]),
        (nlp, ["translate_table"]),
        (inference, ["label_images", "extract_features", "anonymize_images"]),
        (binary, ["read_binary_folder"]),
        (curation, ["curate_batch"]),
        (graph, ["pagerank", "connected_components", "incremental_components"]),
        (dedup, ["incremental_dedup_against_store"]),
        (bpe, ["bpe_train_batched", "bpe_train"]),
        (kmeans, ["kmeans_train", "kmeans_model_df"]),
    ):
        prefix = module.__name__.removeprefix("social_media_data_pipeline_spark.")
        for n in names:
            spans.wrap(module, n, f"{prefix}.{n}")


def store_size(run_dir: str) -> tuple[int, int]:
    """(files, bytes) of every manifest-committed table under `run_dir`."""
    import ledger

    files = size = 0
    for root, dirs, names in os.walk(run_dir):
        if "_manifest.json" in names:
            f, b = ledger.dir_size(root)
            files, size = files + f, size + b
            dirs.clear()
    return files, size


def bench(args, run_dir: str, tree) -> dict:
    import ledger
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    trace = bool(args.trace)
    in_dir = os.path.join(run_dir, "inputs")
    t = time.perf_counter()
    wl.generate(in_dir, args.seed)
    gen_s = time.perf_counter() - t

    t0 = time.perf_counter()
    spark = start_session(run_dir, CPUS, trace)
    session_s = time.perf_counter() - t0

    spans = ledger.Spans() if trace else None
    ctx = workloads.Ctx(spark, run_dir, args.seed, trace, spans)
    if trace:
        install_spans(ctx, spans)
    wl.prepare(ctx, in_dir)

    attempted, problems = 0, []
    ctx.pass_id = "warmup"
    t = time.perf_counter()
    warm = wl.run_pass(ctx, 0)
    warm_s = time.perf_counter() - t
    setup_s = session_s + gen_s + warm_s
    if wl.check_warmup:
        attempted += wl.attempted(warm)
        with ctx.checking():
            problems += wl.check_pass(ctx, warm)

    ctx.catalyst.clear()
    since = spans.now() if trace else 0.0
    passes, measured, check_s = [], 0.0, 0.0
    while not passes or measured < args.seconds:
        k = len(passes) + 1
        ctx.pass_id = f"p{k}"
        rdd0 = ledger.persisted_rdds(spark)
        tree.reset_peak()
        cpu0 = tree.snapshot()
        t = time.perf_counter()
        res = wl.run_pass(ctx, k)
        measured += time.perf_counter() - t
        cpu1 = tree.snapshot()
        res["peak_rss"] = tree.peak_rss()
        res["cpu"] = {kind: cpu1.get(kind, 0.0) - cpu0.get(kind, 0.0) for kind in cpu1}
        res["persisted_rdds"] = ledger.persisted_rdds(spark)
        res["leaked_rdds"] = res["persisted_rdds"] - rdd0
        attempted += wl.attempted(res)
        t = time.perf_counter()
        with ctx.checking():
            problems += wl.check_pass(ctx, res)
        check_s += time.perf_counter() - t
        passes.append(res)

    store_files, store_bytes = store_size(run_dir)
    _, tmp_bytes = ledger.dir_size(os.path.join(run_dir, "tmp"))
    spark.stop()

    unit_s = [s for p in passes for s in p["batch_s"]]
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(sum(p["cpu"].values()) for p in passes),
        "peak_rss_mb": statistics.median(p["peak_rss"] for p in passes) / ledger.MB,
        "batch_p50_s": statistics.median(unit_s) if unit_s else None,
    }
    failed = len(problems)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": trace,
        "passes": len(passes),
        "batch_samples": len(unit_s),
        "end_to_end": e2e,
        "attempted": attempted,
        "error_rate": failed / attempted,
        "failures": problems,
        "leaked_rdds": statistics.median(p["leaked_rdds"] for p in passes),
        "persisted_rdds_after_pass": [p["persisted_rdds"] for p in passes],
        "tmp_mb_left": tmp_bytes / ledger.MB,
        "store": {"files": store_files, "mb": store_bytes / ledger.MB},
        "setup": {"session_start_s": session_s, "generate_s": gen_s, "warmup_pass_s": warm_s,
                  "warmup_units": [{k: v for k, v in u.items() if not isinstance(v, (dict, list))}
                                   for u in warm["units"]]},
        "check_s": check_s,
        "units": [[{k: v for k, v in u.items() if not isinstance(v, (dict, list))}
                   for u in p["units"]] for p in passes],
    }
    if trace:
        import layers

        spans.unwrap_all()
        record["per_layer"], record["ledger"] = layers.fold(
            passes, spans, since, ctx.catalyst,
            ledger.fold_event_log(os.path.join(run_dir, "eventlog")),
            session_s=session_s, wall_s=e2e["wall_s"], record=record,
        )
    return record


def summary(record: dict, names: list[tuple[str, str]]) -> dict:
    source = record["per_layer"] if record["trace"] else record["end_to_end"]
    return {
        "correct": not record["failures"],
        "attempted": int(record["attempted"]),
        "failed": len(record["failures"]),
        "metrics": {n: {"value": source[n], "unit": u} for n, u in names},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "social_media_data_pipeline_spark"))):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    key = "per_layer" if args.trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in spec[key]]

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import ledger

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, CPUS)
    tree = ledger.ProcessTree()
    try:
        record = bench(args, run_dir, tree)
    finally:
        ledger.stop_spark(tree)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(record, default=str))
    print(json.dumps(summary(record, names)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
