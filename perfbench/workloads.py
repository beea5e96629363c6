"""The benchmark's workloads. Each one generates its inputs from the seed,
runs passes against the package's public entry points, and checks every
pass's outputs outside the timed region.

- `pipeline_posts`: the paper's system — post-detail JSON flatten, then a
  reference-shaped config through `PipelineRunner` + `default_registry()`
  (feed scrape → preprocess → translate → explore → three image stages).
- `queries`: a fixed list of registry rows, each built and then run with a
  noop write; lazy rows (planning + scan) and iterative rows (loops, pins
  and stores run while the DataFrame is built) side by side.
- `curation_stream`: closed-loop micro-batches through
  `curation.curate_batch(..., labels_path=...)`; state grows every batch.
"""

from __future__ import annotations

import collections
import contextlib
import datetime as dt
import json
import os
import subprocess
import sys
import time
import traceback

import inputs
import ledger

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def error_text(exc: BaseException) -> str:
    """Exception type and the first line of its message."""
    msg = str(exc).strip()
    return f"{type(exc).__name__}: {msg.splitlines()[0][:300] if msg else ''}"


class Ctx:
    """What a workload needs from the run: the session, its directories,
    the seed, and the tracing hooks (inert when tracing is off)."""

    def __init__(self, spark, run_dir: str, seed: int, trace: bool, spans) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.trace = trace
        self.spans = spans
        self.catalyst: list[dict] = []
        self.pass_id = "setup"
        self.unit = "setup"

    def enter(self, unit: str, phase: str) -> None:
        self.unit = unit
        self.phase(phase)

    def phase(self, phase: str) -> None:
        """Traced runs tag every Spark job with `<pass>|<unit>|<phase>`."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{self.pass_id}|{self.unit}|{phase}", self.unit)

    def span(self, name: str):
        """A span in traced runs, nothing otherwise."""
        if self.trace and self.spans.enabled:
            return self.spans.span(name, unit=self.unit)
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def checking(self):
        """Output checks run outside the pass: their jobs are tagged
        `check`, and they record no spans and no plans."""
        self.enter("check", "check")
        if self.trace:
            self.spans.enabled = False
        try:
            yield
        finally:
            if self.trace:
                self.spans.enabled = True

    def record_plan(self, df) -> None:
        """Traced runs only: plan `df` and keep its Catalyst phase times."""
        if self.trace and self.spans.enabled:
            self.catalyst.append(ledger.catalyst_phases(df))


def _fail(unit: str, exc: BaseException) -> dict:
    traceback.print_exception(exc)
    return {"unit": unit, "error": error_text(exc)}


# --------------------------------------------------------------------------
# pipeline_posts
# --------------------------------------------------------------------------


class PipelinePosts:
    name = "pipeline_posts"
    check_warmup = False
    terms = ["kelvingrove", "modernart", "glasgowmuseums"]
    sizes = {"posts_per_term": 800, "feed_page_size": 200, "post_json_docs": 600,
             "post_json_files": 6, "images": 48, "image_px": 48}
    preprocess = {"dataset_name": "Glasgow_Kelvingrove", "remove_duplicates": True,
                  "images_only": True, "year_filter": [2010, 2020],
                  "lowercase_hashtags": True, "max_images_per_year": 60}

    def generate(self, in_dir: str, seed: int) -> None:
        s = self.sizes
        inputs.write_post_json(os.path.join(in_dir, "post_json"),
                               inputs.post_json_docs(seed, s["post_json_docs"]),
                               s["post_json_files"])
        inputs.write_png_folder(os.path.join(in_dir, "images"), seed, s["images"], s["image_px"])

    def prepare(self, ctx: Ctx, in_dir: str) -> None:
        s = self.sizes
        self.in_dir = in_dir
        self.pages = inputs.feed_pages(ctx.seed, self.terms, s["posts_per_term"], s["feed_page_size"])
        self.docs = inputs.post_json_docs(ctx.seed, s["post_json_docs"])
        self.expected = self._expected_counts()

    def _config(self, root: str) -> dict:
        from social_media_data_pipeline_spark.sources import rest

        images = os.path.join(self.in_dir, "images")
        stage = lambda name, impl, inp, out, params: {  # noqa: E731
            "name": name, "implementation": impl, "input": inp, "output": out,
            "enabled": True, "params": params,
        }
        return {
            "dataset_name": "Glasgow_Kelvingrove",
            "skip_stage_if_exists": False,
            "stages": [
                stage("Feed Scrape", "InstagramFeedScraperStage", None, "posts", {
                    "terms": self.terms, "client": rest.OfflineStubClient(pages=self.pages),
                    "bronze_dir": os.path.join(root, "bronze")}),
                stage("Preprocessing", "PreprocessorStage", "posts", "posts_preprocessed",
                      dict(self.preprocess)),
                stage("Translation", "TranslatorStage", "posts_preprocessed", "posts_translated",
                      {"target_column": "caption", "target_language": "en"}),
                stage("Exploratory Analysis", "ExploratoryanalysisStage", "posts_preprocessed",
                      "exploratory_analysis", {}),
                stage("Image Labeling", "ImageLabelerStage", None, "image_labels",
                      {"image_dir": images}),
                stage("Image Feature Vectors", "ImageFeatureVectorStage", None, "image_features",
                      {"image_dir": images}),
                stage("Image Anonymization", "ImageAnonymizerStage", None, "images_anonymized",
                      {"image_dir": images}),
            ],
        }

    def _expected_counts(self) -> dict[str, int]:
        """Row counts of every stage output, computed in pure Python from
        the generated rows (no Spark)."""
        items = {}
        for docs in self.pages.values():
            for page in docs:
                for it in page["items"]:
                    items[(it["id"], it["shortcode"])] = it
        first: dict[str, dict] = {}
        for it in items.values():
            cur = first.get(it["shortcode"])
            if cur is None or (it["timestamp"], it["id"]) < (cur["timestamp"], cur["id"]):
                first[it["shortcode"]] = it
        lo, hi = self.preprocess["year_filter"]
        kept = []
        for it in first.values():
            when = dt.datetime.fromtimestamp(it["timestamp"], dt.timezone.utc)
            if not it["is_video"] and lo <= when.year < hi:
                kept.append((when, it))
        per_year = collections.Counter(w.year for w, _ in kept)
        cap = self.preprocess["max_images_per_year"]
        months = {(w.year, w.month) for w, _ in kept}
        tags = {t.lower() for _, it in kept for t in it["hashtags"]}
        n_img = self.sizes["images"]
        comments = sum(
            1 + len(((c["node"].get("edge_threaded_comments") or {}).get("edges")) or [])
            for d in self.docs for c in d["edge_media_to_parent_comment"]["edges"]
        )
        return {
            "posts_flat": len(self.docs),
            "comments": comments,
            "posts": len(items),
            "posts_preprocessed": len(kept),
            "posts_preprocessed.scrape_image": sum(min(n, cap) for n in per_year.values()),
            "posts_translated": len(kept),
            "exploratory_analysis": len(months) + len(tags),
            "image_labels": n_img,
            "image_features": n_img,
            "images_anonymized": n_img,
        }

    def registry(self, ctx: Ctx, config: dict) -> dict:
        """`default_registry()`; in traced runs each stage's `run` opens the
        stage's job group and span (each implementation appears once in
        the config, so it names its stage)."""
        from social_media_data_pipeline_spark.plans.stages import default_registry

        reg = default_registry()
        if not ctx.trace:
            return reg
        stage_of = {s["implementation"]: s["name"] for s in config["stages"]}

        def traced(name, factory):
            def make(params):
                stage = factory(params)
                run = stage.run

                def run_traced(spark, input_path, output_path):
                    ctx.enter(f"stage:{name}", "construct")
                    with ctx.span("construct"):
                        return run(spark, input_path, output_path)

                stage.run = run_traced
                return stage
            return make

        return {impl: traced(stage_of.get(impl, impl), f) for impl, f in reg.items()}

    def run_pass(self, ctx: Ctx, k: int) -> dict:
        from social_media_data_pipeline_spark import io as eio
        from social_media_data_pipeline_spark.plans.pipeline import PipelineRunner
        from social_media_data_pipeline_spark.sources import json_flatten

        root = os.path.join(ctx.run_dir, "pipeline", f"pass{k}")
        ds = os.path.join(root, "Glasgow_Kelvingrove")
        config = self._config(root)
        runner = PipelineRunner(ctx.spark, self.registry(ctx, config))
        t0 = time.perf_counter()
        ctx.enter("flatten", "construct")
        flat_err = None
        try:
            raw = json_flatten.read_post_json(ctx.spark, os.path.join(self.in_dir, "post_json"))
            eio.write_stage_output(json_flatten.flatten_posts(raw, "bench"),
                                   os.path.join(ds, "posts_flat"))
            eio.write_stage_output(json_flatten.extract_comments(raw), os.path.join(ds, "comments"))
        except Exception as exc:  # recorded as a failed unit
            flat_err = _fail("flatten", exc)
        t_flat = time.perf_counter()
        results = runner.run(config, root)
        wall = time.perf_counter() - t0
        units = [{"unit": "flatten", "s": t_flat - t0, "ok": flat_err is None,
                  **({"error": flat_err["error"]} if flat_err else {})}]
        for r in results:
            units.append({"unit": f"stage:{r.name}", "s": r.execution_time or 0.0,
                          "ok": r.result == "Success", "result": r.result, "output": r.output})
        # one pipeline run is the unit of work of this workload
        return {"wall_s": wall, "batch_s": [wall], "units": units, "root": root, "config": config,
                "registry": runner.registry}

    def check_pass(self, ctx: Ctx, res: dict) -> list[dict]:
        """Stage results must be Success and every output's row count must
        equal the pure-Python count; a failed stage is re-run outside
        timing to record its exception."""
        from pyspark.sql import functions as F

        from social_media_data_pipeline_spark import io as eio

        ds = os.path.join(res["root"], "Glasgow_Kelvingrove")
        problems = []
        specs = {s["name"]: s for s in res["config"]["stages"]}
        for u in res["units"]:
            if u["ok"]:
                continue
            if u["unit"] == "flatten":
                problems.append({"unit": "flatten", "error": u.get("error")})
                continue
            spec = specs[u["unit"].split(":", 1)[1]]
            try:
                stage = res["registry"][spec["implementation"]](spec["params"])
                inp = os.path.join(ds, spec["input"]) if spec["input"] else None
                out = os.path.join(ds, spec["output"])
                eio.write_stage_output(stage.run(ctx.spark, inp, out), out)
                err = f"stage returned {u['result']}; re-run outside timing succeeded"
            except Exception as exc:
                err = _fail(u["unit"], exc)["error"]
            u["error"] = err
            problems.append({"unit": u["unit"], "error": err})
        for table, want in self.expected.items():
            name, _, col = table.partition(".")
            path = os.path.join(ds, name)
            try:
                df = ctx.spark.read.parquet(path)
                got = df.filter(F.col(col)).count() if col else df.count()
            except Exception as exc:
                got = f"unreadable ({error_text(exc)})"
            if got != want:
                problems.append({"unit": f"output:{table}", "error": f"rows {got} != expected {want}"})
        return problems

    def attempted(self, res: dict) -> int:
        return len(res["units"]) + len(self.expected)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

LAZY = ["pricing_summary", "region_revenue", "events_pivot", "token_frequency",
        "docs_exact_dedup", "events_session_paths"]
ITERATIVE = ["graph_pagerank", "docs_bpe_merges", "kmeans_train"]


def _fingerprint(columns: list[str], rows: list[tuple], value_hash) -> str:
    return f"{len(rows)}:{value_hash([c.lower() for c in columns], rows)}"


class Queries:
    name = "queries"
    check_warmup = False
    sizes = {"scale": 0.01, "documents": 500, "embeddings": 500}
    rows = LAZY + ITERATIVE

    def generate(self, in_dir: str, seed: int) -> None:
        s = self.sizes
        tables = os.path.join(in_dir, "tables")
        inputs.write_harness_tables(tables, seed,
                                    inputs.harness_sizes(s["scale"], s["documents"], s["embeddings"]))
        # the DuckDB oracle runs in a child process while the session
        # starts; it has exited before the first pass, so its memory is
        # not in the measured process tree
        code = ("import json, sys, workloads; "
                "print(json.dumps(workloads.oracle_fingerprints(sys.argv[1], sys.argv[2:])))")
        path = [HERE, ROOT, os.environ.get("PYTHONPATH", "")]
        self.oracle = subprocess.Popen(
            [sys.executable, "-c", code, tables, *self.rows], stdout=subprocess.PIPE, text=True,
            env=dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in path if p)),
        )

    def prepare(self, ctx: Ctx, in_dir: str) -> None:
        import __spark_entry__ as entry

        self.tables = os.path.join(in_dir, "tables")
        registry = entry.queries()
        self.fns = {n: registry[n] for n in self.rows}
        self.value_hash = _value_hash()
        out, _ = self.oracle.communicate()
        if self.oracle.returncode != 0:
            raise RuntimeError(f"oracle process exited with {self.oracle.returncode}")
        self.want = json.loads(out.splitlines()[-1])

    def run_pass(self, ctx: Ctx, k: int) -> dict:
        units, built = [], {}
        wall = 0.0
        for n in self.rows:
            ctx.enter(f"query:{n}", "construct")
            t0 = time.perf_counter()
            try:
                with ctx.span("construct"):
                    df = self.fns[n](ctx.spark, self.tables)
                t1 = time.perf_counter()
                ctx.record_plan(df)
                ctx.phase("execute")
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:
                wall += time.perf_counter() - t0
                units.append({"unit": f"query:{n}", "ok": False, **_fail(n, exc)})
                continue
            wall += (t1 - t0) + (t3 - t2)
            built[n] = df
            units.append({"unit": f"query:{n}", "ok": True, "s": (t1 - t0) + (t3 - t2),
                          "construct_s": t1 - t0, "execute_s": t3 - t2})
        return {"wall_s": wall, "batch_s": [u["s"] for u in units if u["ok"]],
                "units": units, "built": built}

    def check_pass(self, ctx: Ctx, res: dict) -> list[dict]:
        """Order-insensitive fingerprint of each row's output against its
        oracle's."""
        problems = [{"unit": u["unit"], "error": u["error"]} for u in res["units"] if not u["ok"]]
        for n, df in res.pop("built").items():
            try:
                got = _fingerprint(df.columns, [tuple(r) for r in df.collect()], self.value_hash)
            except Exception as exc:
                got = f"collect failed ({error_text(exc)})"
            if got != self.want[n]:
                problems.append({"unit": f"query:{n}",
                                 "error": f"fingerprint {got} != oracle {self.want[n]}"})
        return problems

    def attempted(self, res: dict) -> int:
        return len(self.rows)


def oracle_fingerprints(tables: str, rows: list[str]) -> dict[str, str]:
    """Each row's DuckDB oracle (`__spark_entry__.oracle_sql()`) over the
    tables in `tables`, fingerprinted with the differential gate's
    type-tagged hash."""
    import duckdb

    import __spark_entry__ as entry

    sql, value_hash = entry.oracle_sql(), _value_hash()
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        out = {}
        for n in rows:
            rel = con.sql(sql[n])
            out[n] = _fingerprint(rel.columns, rel.fetchall(), value_hash)
        return out
    finally:
        con.close()


def _value_hash():
    """`tools/check_correctness.py`'s type-tagged, order-insensitive hash."""
    import importlib.util

    import __spark_entry__

    path = os.path.join(os.path.dirname(os.path.abspath(__spark_entry__.__file__)),
                        "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


# --------------------------------------------------------------------------
# curation_stream
# --------------------------------------------------------------------------


class CurationStream:
    name = "curation_stream"
    # closed-loop 100-doc micro-batches in doc_id order, each sent after
    # the previous one returned: the warm-up pass is one batch that
    # creates the curated table and the band and label stores, every
    # measured pass appends `batches_per_pass` more, so a pass times
    # the stores' growth
    sizes = {"batch_docs": 100, "warmup_batches": 1, "batches_per_pass": 2, "max_batches": 12}
    check_warmup = True

    def generate(self, in_dir: str, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        s = self.sizes
        n = s["batch_docs"]
        docs = inputs.documents(seed, n * s["max_batches"], stream=True)
        out = os.path.join(in_dir, "batches")
        os.makedirs(out, exist_ok=True)
        for b in range(s["max_batches"]):
            chunk = docs[b * n : (b + 1) * n]
            pq.write_table(pa.table({
                "doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                "text": pa.array([d[1] for d in chunk], pa.string()),
            }), os.path.join(out, f"batch_{b:03d}.parquet"))

    def prepare(self, ctx: Ctx, in_dir: str) -> None:
        self.batches = os.path.join(in_dir, "batches")
        self.store = os.path.join(ctx.run_dir, "curation")
        self.next_batch = 0
        self.committed = 0

    def paths(self) -> dict[str, str]:
        return {k: os.path.join(self.store, k) for k in ("curated", "bands", "labels")}

    def run_pass(self, ctx: Ctx, k: int) -> dict:
        from pyspark.sql import functions as F

        from social_media_data_pipeline_spark.streaming import curation

        p = self.paths()
        # the permissive gate of tools/curation_throughput.py, so every
        # stage of the batch does work on short generated documents
        gate = F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 5
        units = []
        for _ in range(self.sizes["warmup_batches" if k == 0 else "batches_per_pass"]):
            b = self.next_batch
            if b >= self.sizes["max_batches"]:
                raise RuntimeError("curation stream ran out of generated batches")
            self.next_batch += 1
            ctx.enter(f"batch:{b}", "construct")
            batch = ctx.spark.read.parquet(os.path.join(self.batches, f"batch_{b:03d}.parquet"))
            t0 = time.perf_counter()
            try:
                with ctx.span("construct"):
                    counts = curation.curate_batch(ctx.spark, batch, p["curated"], p["bands"],
                                                   quality_predicate=gate, labels_path=p["labels"])
                unit = {"unit": f"batch:{b}", "ok": True, **counts}
            except Exception as exc:
                unit = {"unit": f"batch:{b}", "ok": False, **_fail(f"batch:{b}", exc)}
            unit["s"] = time.perf_counter() - t0
            units.append(unit)
        return {"wall_s": sum(u["s"] for u in units), "batch_s": [u["s"] for u in units],
                "units": units}

    def check_pass(self, ctx: Ctx, res: dict) -> list[dict]:
        """committed + dup_flagged == quality_pass per batch; the curated
        ids are distinct and as many as the summed commits."""
        from social_media_data_pipeline_spark import scale

        problems = []
        for u in res["units"]:
            if not u["ok"]:
                problems.append({"unit": u["unit"], "error": u["error"]})
                continue
            self.committed += u["committed"]
            if u["committed"] + u["dup_flagged"] != u["quality_pass"]:
                problems.append({"unit": u["unit"], "error": (
                    f"committed {u['committed']} + dup_flagged {u['dup_flagged']} "
                    f"!= quality_pass {u['quality_pass']}")})
        try:
            ids = scale.manifest_read(ctx.spark, self.paths()["curated"]).select("doc_id")
            n, distinct = ids.count(), ids.distinct().count()
        except Exception as exc:
            n = distinct = f"unreadable ({error_text(exc)})"
        if not (n == distinct == self.committed):
            problems.append({"unit": "curated_table", "error": (
                f"rows {n}, distinct ids {distinct}, summed commits {self.committed}")})
        return problems

    def attempted(self, res: dict) -> int:
        return len(res["units"]) + 1


WORKLOADS = {w.name: w for w in (PipelinePosts, Queries, CurationStream)}

