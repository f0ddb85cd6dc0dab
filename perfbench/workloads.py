"""The benchmark's workloads: inputs, one run, its output check, and the
traced run that attributes a run's time to the program's layers.

The untraced run calls only the program's public functions, as a user
would. The traced run makes the same calls with each call into a layer
wrapped (the program is not modified): the wrapper opens a span and ends
the layer with persist + count, so the span holds the layer's work and
later layers read its cached output.
"""

from __future__ import annotations

import contextlib
import time
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
import checks
import inputs
import spans
from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.corpus import PAGES_SCHEMA, build_ground_truth, build_pages
from paper_layout_parser_spark.operators import dedup as dd
from paper_layout_parser_spark.operators.evaluate import compare_matches, evaluation_summary
from paper_layout_parser_spark.operators.matching import match_captions
from paper_layout_parser_spark.operators.stats import extraction_stats
from paper_layout_parser_spark.plans import pipeline
from paper_layout_parser_spark.plans.pipeline import run_pipeline
from paper_layout_parser_spark.sources.catalog import Catalog

# Input sizes, fixed per workload so every seed does the same work.
EXTRACT_DOCS = 300
MATCH_BASE_DOCS, MATCH_COPIES = 20, 100
DEDUP_DOCS = 5000

PROFILER = "spark.sql.pyspark.udf.profiler"
MB = spans.MB

# Per-layer metrics of a traced run (name -> unit). Every traced run reports
# all of them; a layer the workload does not run reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "corpus.build_pages_s": "s",
    "rasterize.plan_splits_s": "s",
    "rasterize.plan_splits_chunks": "count",
    "rasterize.plan_splits_shuffle_mb": "MB",
    "rasterize.rasterize_pages_s": "s",
    "rasterize.rasterize_pages_rows": "count",
    "detect.fused_s": "s",
    "detect.fused_pages_in": "count",
    "detect.fused_rows_out": "count",
    "detect.fused_python_in_mb": "MB",
    "detect.fused_python_out_mb": "MB",
    "detect.fused_task_p90_s": "s",
    "detect.fused_task_max_s": "s",
    "detect.leg_render_s": "s",
    "detect.leg_json_decode_s": "s",
    "detect.leg_detect_s": "s",
    "detect.leg_clip_text_s": "s",
    "detect.leg_xy_cut_s": "s",
    "detect.leg_other_s": "s",
    "detect.quarantined_chunks": "count",
    "detect.quarantined_pages_rasterize": "count",
    "detect.quarantined_pages_detect": "count",
    "detect.spill_mb": "MB",
    "pipeline.run_pipeline_s": "s",
    "pipeline.enriched_s": "s",
    "pipeline.enriched_cached_mb": "MB",
    "pipeline.render_passes": "count",
    "assembly.assemble_doc_text_s": "s",
    "assembly.shuffle_mb": "MB",
    "assembly.spill_mb": "MB",
    "matching.match_captions_s": "s",
    "matching.candidate_pairs": "count",
    "matching.udf_groups": "count",
    "matching.shuffle_mb": "MB",
    "matching.spill_mb": "MB",
    "stats.doc_stats_s": "s",
    "stats.extraction_stats_s": "s",
    "evaluate.compare_matches_s": "s",
    "evaluate.evaluation_summary_s": "s",
    "evaluate.shuffle_mb": "MB",
    "evaluate.spill_mb": "MB",
    "catalog.commit_doc_text_s": "s",
    "catalog.commit_extracted_items_s": "s",
    "catalog.commit_doc_stats_s": "s",
    "catalog.commit_quarantine_s": "s",
    "catalog.commit_other_s": "s",
    "catalog.bytes_written_mb": "MB",
    "catalog.lineage_rows": "count",
    "catalog.spill_mb": "MB",
    "dedup.minhash_lsh_pairs_s": "s",
    "dedup.jaccard_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB",
    "text.quality_s": "s",
    "job.self_s": "s",
    "bench.untraced_job_s": "s",
    "bench.traced_total_s": "s",
    "bench.trace_overhead_s": "s",
}

# spans whose self-time is reported as "<span name>_s"
_TIMED_SPANS = [k[:-2] for k in PER_LAYER
                if k.endswith("_s") and not k.startswith(("bench.", "session.", "corpus.",
                                                          "job.", "detect.leg_",
                                                          "detect.fused_task"))]


@contextlib.contextmanager
def patched(*replacements):
    """Temporarily replace attributes: (object, name, new value) triples."""
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in replacements]
    for obj, name, new in replacements:
        setattr(obj, name, new)
    try:
        yield
    finally:
        for obj, name, old in saved:
            setattr(obj, name, old)


def uncut(_name, build):
    """The untraced run's stand-in for Tracer.cut: just build the frame."""
    return build()


def _ancestors(s) -> list:
    out = []
    while s.parent is not None:
        s = s.parent
        out.append(s)
    return out


class Workload:
    """One workload: ``build`` its inputs, run ``job`` into a fresh output
    root, ``check`` what the run committed."""

    def __init__(self, spark, seed: int, run_dir: Path, cpus: int):
        self.spark, self.run_dir, self.cpus = spark, run_dir, cpus
        self.build_pages_s = 0.0
        self._n_out = 0

    def fresh_out(self) -> str:
        self._n_out += 1
        return str(self.run_dir / "out" / str(self._n_out))

    def failed_docs(self, out: str) -> int:
        """Documents with any row in the run's committed quarantine."""
        return 0

    def _write(self, df, path: Path) -> None:
        df.repartition(2 * self.cpus).write.parquet(str(path))

    def wrappers(self, inst, tracer, keep: list, state: dict) -> list:
        """Attribute replacements for the traced run: spans around
        Catalog.checkpoint_stage and the Catalog.append calls outside it."""
        cp, append = Catalog.checkpoint_stage, Catalog.append

        def checkpoint_stage(cat, df, table, *a, **k):
            state["in_commit"] = True
            try:
                with tracer.span(f"catalog.commit_{table}"):
                    return cp(cat, df, table, *a, **k)
            finally:
                state["in_commit"] = False

        def append_w(cat, df, table):
            if state.get("in_commit"):
                return append(cat, df, table)
            name = "catalog.commit_quarantine" if table == "quarantine" else "catalog.commit_other"
            with tracer.span(name):
                return append(cat, df, table)

        return [(Catalog, "checkpoint_stage", checkpoint_stage), (Catalog, "append", append_w)]

    def layer_counts(self, inst, tracer, state, out, after, m) -> None:
        """Workload-specific per-layer counts (default: none)."""

    # -- traced run ---------------------------------------------------------

    def traced(self, inst, tracer, session_s: float) -> dict:
        """One untraced run (the reference for the tracing overhead and the
        render-pass count), then one traced run; both are checked."""
        before = inst.last_execution_id()
        out = self.fresh_out()
        t0 = time.perf_counter()
        self.job(out)
        untraced = time.perf_counter() - t0
        problems = self.check(out)
        failed = int(bool(problems))
        untraced_nodes = [n for eid, _ in inst.executions_after(before)
                          for n in inst.plan_nodes(eid)]
        after = inst.last_execution_id()

        out = self.fresh_out()
        keep, state = [], {}
        with patched(*self.wrappers(inst, tracer, keep, state)):
            with tracer.span("job") as root:
                self.job(out, lambda name, build: tracer.cut(name, build, keep))
        traced_problems = self.check(out)
        failed += int(bool(traced_problems))

        m = {k: 0.0 for k in PER_LAYER}
        m["session.get_spark_s"] = session_s
        m["corpus.build_pages_s"] = self.build_pages_s
        for name in _TIMED_SPANS:
            m[name + "_s"] = tracer.total(name)
        for layer in ("detect", "assembly", "matching", "evaluate", "catalog", "dedup"):
            names = tuple({s.name for s in tracer.spans if s.name.startswith(layer + ".")})
            m[layer + ".spill_mb"] = tracer.stage_totals_of(names)["spill_bytes"] / MB
        for layer, names in (("assembly", ("assembly.assemble_doc_text",)),
                             ("matching", ("matching.match_captions",)),
                             ("evaluate", ("evaluate.compare_matches",
                                           "evaluate.evaluation_summary")),
                             ("dedup", ("dedup.minhash_lsh_pairs", "dedup.jaccard_pairs"))):
            m[layer + ".shuffle_mb"] = tracer.stage_totals_of(names)["shuffle_bytes"] / MB
        commits = tuple({s.name for s in tracer.spans if s.name.startswith("catalog.")})
        m["catalog.bytes_written_mb"] = tracer.stage_totals_of(commits)["output_bytes"] / MB
        m["catalog.lineage_rows"] = _lineage_rows(out)
        for node in tracer.plan_nodes_of(("matching.match_captions",), after):
            if node.name == "ArrowEvalPython":
                m["matching.udf_groups"] += node.metrics.get("number of output rows", 0.0)
            elif node.name.endswith("Join") and "Inner" in node.desc:
                m["matching.candidate_pairs"] += node.metrics.get("number of output rows", 0.0)
        m["pipeline.render_passes"] = spans.render_passes(untraced_nodes)
        m["job.self_s"] = root.self_time
        m["bench.untraced_job_s"] = untraced
        m["bench.traced_total_s"] = root.wall
        m["bench.trace_overhead_s"] = root.wall - untraced
        self.layer_counts(inst, tracer, state, out, after, m)
        for df in keep:
            df.unpersist()
        _print_breakdown(tracer, root, untraced)
        return {"attempted": 2, "failed": failed, "problems": problems + traced_problems,
                "metrics": {k: (float(v), PER_LAYER[k]) for k, v in m.items()}}


def _lineage_rows(out: str) -> int:
    con = duckdb.connect()
    return sum(con.execute(f"SELECT count(*) FROM {checks.table_sql(out, d.name)}").fetchone()[0]
               for d in Path(out).glob("*__lineage"))


def _print_breakdown(tracer, root, untraced: float) -> None:
    print(f"traced run: {root.wall:.3f}s (untraced {untraced:.3f}s); span self-times:")
    for s in tracer.spans:
        if s is root or root in _ancestors(s):
            depth = len(_ancestors(s))
            print(f"  {'  ' * depth}{s.name:<34s} {s.self_time:8.3f}s  (wall {s.wall:.3f}s)")


# --------------------------------------------------------------------------
# extract: scripts/run_extraction_job.py::run_job
# --------------------------------------------------------------------------

class Extract(Workload):
    """run_job into a fresh parquet warehouse per run, over sf0.1-shaped
    pages with planted faults."""

    def __init__(self, spark, seed, run_dir, cpus):
        super().__init__(spark, seed, run_dir, cpus)
        self.inp = inputs.extract_input(seed, EXTRACT_DOCS)
        self.n_docs = self.inp.n_docs
        self.oracle = checks.Oracle(pd.DataFrame({
            "doc_id": self.inp.good_ids, "text": "", "lang": "en", "source": "src0",
            "n_chars": 0}))
        self.oracle.expect("caption_match")
        self.oracle.expect("doc_stats")
        self.oracle_urls = {sd.url_of(d) for d in self.inp.good_ids}

    def build(self) -> float:
        d = self.run_dir / "input"
        d.mkdir(parents=True)
        pd.DataFrame({"doc_id": self.inp.good_ids,
                      "lang": [self.inp.langs[x] for x in self.inp.good_ids]}
                     ).to_parquet(d / "documents.parquet")
        t0 = time.perf_counter()
        pages = build_pages(self.spark, str(d)).unionByName(
            self.spark.createDataFrame(self.inp.fault_rows, PAGES_SCHEMA))
        pages.write.parquet(str(d / "pages"))
        self.build_pages_s = time.perf_counter() - t0
        self.pages_path = d / "pages"
        return self.build_pages_s

    def job(self, out: str, cut=uncut) -> None:
        # run_job is called as is; the traced run cuts its layers through
        # the wrappers below instead of ``cut``
        import run_extraction_job as rej

        pages = self.spark.read.parquet(str(self.pages_path))
        n = rej.run_job(self.spark, pages, Catalog(self.spark, out))
        if n != self.n_docs:
            raise RuntimeError(f"run_job processed {n} urls, expected {self.n_docs}")

    def check(self, out: str) -> list[str]:
        return checks.check_extraction(
            self.oracle, out, self.inp.expected_text, self.inp.expected_pages,
            self.inp.expected_quarantine, self.oracle_urls)

    def failed_docs(self, out: str) -> int:
        return duckdb.connect().execute(
            f"SELECT count(DISTINCT url) FROM {checks.table_sql(out, 'quarantine')}"
        ).fetchone()[0]

    def wrappers(self, inst, tracer, keep, state):
        import run_extraction_job as rej

        spark = self.spark
        orig = {name: getattr(pipeline, name) for name in (
            "plan_splits", "rasterize_pages", "normalize_detections", "match_captions",
            "assemble_doc_text", "doc_stats")}

        def cut_as(name, fn, key=None):
            def wrapper(*a, **k):
                df = tracer.cut(name, lambda: fn(*a, **k), keep)
                if key:
                    state[key] = df
                return df
            return wrapper

        def normalize_detections(raw):
            # the fused stage's output is cut here, on the branch that feeds
            # `enriched`; the quarantine branch keeps its own lineage, as in
            # the untraced job
            spark.conf.set(PROFILER, "perf")
            spark.profile.clear()
            try:
                fused = tracer.cut("detect.fused", lambda: raw, keep)
            finally:
                spark.conf.unset(PROFILER)
            state["legs"] = spans.fused_legs(spark._profiler_collector._perf_profile_results)
            return orig["normalize_detections"](fused)

        def match_captions(det, *a, **k):
            with tracer.span("pipeline.enriched"):
                before = inst.cached_bytes()
                det.count()
                state["enriched_cached_mb"] = (inst.cached_bytes() - before) / MB
            return tracer.cut("matching.match_captions",
                              lambda: orig["match_captions"](det, *a, **k), keep)

        run_pipeline = rej.run_pipeline

        def run_pipeline_w(*a, **k):
            with tracer.span("pipeline.run_pipeline"):
                return run_pipeline(*a, **k)

        return [
            (rej, "run_pipeline", run_pipeline_w),
            (pipeline, "plan_splits", cut_as("rasterize.plan_splits", orig["plan_splits"],
                                             "planned")),
            (pipeline, "rasterize_pages", cut_as("rasterize.rasterize_pages",
                                                 orig["rasterize_pages"], "rasterized")),
            (pipeline, "normalize_detections", normalize_detections),
            (pipeline, "match_captions", match_captions),
            (pipeline, "assemble_doc_text", cut_as("assembly.assemble_doc_text",
                                                   orig["assemble_doc_text"])),
            (pipeline, "doc_stats", cut_as("stats.doc_stats", orig["doc_stats"])),
            *super().wrappers(inst, tracer, keep, state),
        ]

    def layer_counts(self, inst, tracer, state, out, after, m) -> None:
        planned, ras = state["planned"], state["rasterized"]
        m["pipeline.enriched_cached_mb"] = state["enriched_cached_mb"]
        m["rasterize.plan_splits_chunks"] = tracer.total("rasterize.plan_splits", "rows")
        m["rasterize.plan_splits_shuffle_mb"] = tracer.stage_totals_of(
            ("rasterize.plan_splits",))["shuffle_bytes"] / MB
        m["rasterize.rasterize_pages_rows"] = tracer.total("rasterize.rasterize_pages", "rows")
        m["detect.fused_rows_out"] = tracer.total("detect.fused", "rows")
        m["detect.fused_pages_in"] = planned.agg(
            F.sum(F.col("page_end") - F.col("page_start"))).first()[0]
        for node in tracer.plan_nodes_of(("detect.fused",), after):
            if node.name == "MapInPandas":
                m["detect.fused_python_in_mb"] += node.metrics.get(
                    "data sent to Python workers", 0.0) / MB
                m["detect.fused_python_out_mb"] += node.metrics.get(
                    "data returned from Python workers", 0.0) / MB
        stages = inst.stage_ids(tracer.jobs_of(("detect.fused",)))
        durations = max((inst.task_durations(s) for s in stages), key=sum, default=[])
        m["detect.fused_task_p90_s"] = spans.percentile(durations, 0.9)
        m["detect.fused_task_max_s"] = max(durations, default=0.0)
        for leg, v in state["legs"].items():
            m["detect." + leg] = v
        _quarantine_counts(planned, ras, out, m)


def _quarantine_counts(planned, ras, out, m) -> None:
    """Quarantine rows by stage label. A rasterize-stage row at a chunk none
    of whose pages rendered stands for the whole chunk (a chunk that failed
    to decode); every other row stands for one page."""
    q = duckdb.connect().execute(
        f"SELECT url, page_no, stage FROM {checks.table_sql(out, 'quarantine')}").fetchall()
    urls = sorted({u for u, _, _ in q})
    chunks = planned.where(F.col("url").isin(urls)).select(
        "url", "page_start", "page_end").collect()
    rendered = {(r.url, r.page_no) for r in ras.where(
        F.col("url").isin(urls) & F.col("error").isNull()).select("url", "page_no").collect()}
    for url, page_no, stage in q:
        chunk = next((c for c in chunks if c.url == url
                      and c.page_start <= page_no < c.page_end), None)
        if stage == "rasterize" and chunk is not None and not any(
                (url, p) in rendered for p in range(chunk.page_start, chunk.page_end)):
            m["detect.quarantined_chunks"] += 1
            m["detect.quarantined_pages_rasterize"] += chunk.page_end - chunk.page_start
        else:
            m[f"detect.quarantined_pages_{stage}"] += 1


# --------------------------------------------------------------------------
# downstream: match_eval (re-match and evaluate a committed `enriched`
# table) and dedup (near-duplicate pairs and quality scores)
# --------------------------------------------------------------------------

class MatchEval(Workload):
    def __init__(self, spark, seed, run_dir, cpus):
        super().__init__(spark, seed, run_dir, cpus)
        self.base_ids, every = inputs.match_eval_ids(seed, MATCH_BASE_DOCS, MATCH_COPIES)
        self.oracle = checks.Oracle(pd.DataFrame({
            "doc_id": every, "text": "", "lang": "en", "source": "src0", "n_chars": 0}))
        self.tables = {t: self.oracle.expect(t)
                       for t in ("caption_match", "extraction_stats", "eval_summary")}
        self.n_docs = len(every)

    def build(self) -> float:
        """Render the base documents once through the pipeline, then
        re-key copies of their `enriched` rows up to size."""
        d = self.run_dir / "input"
        d.mkdir(parents=True)
        pd.DataFrame({"doc_id": self.base_ids, "lang": "en"}).to_parquet(d / "documents.parquet")
        t0 = time.perf_counter()
        build_pages(self.spark, str(d)).write.parquet(str(d / "pages"))
        self.build_pages_s = time.perf_counter() - t0
        out = run_pipeline(self.spark.read.parquet(str(d / "pages")))
        out.enriched.write.parquet(str(d / "enriched_base"))
        out.enriched.unpersist()
        base = self.spark.read.parquet(str(d / "enriched_base"))
        doc = F.regexp_extract("url", r"([0-9]+)$", 1).cast("long")
        rekeyed = base.crossJoin(
            F.broadcast(self.spark.range(MATCH_COPIES).withColumnRenamed("id", "copy"))
        ).withColumn("new_id", doc + F.col("copy") * inputs.REKEY).select(
            F.format_string(sd.URL_FMT, F.col("new_id")).alias("url"),
            *[c for c in base.columns if c not in ("url", "text")],
            F.expr("regexp_replace(text, ' d[0-9]+ ', "
                   "concat(' d', CAST(new_id AS STRING), ' '))").alias("text"),
        )
        self.enriched_path = d / "enriched"
        self._write(rekeyed, self.enriched_path)
        return time.perf_counter() - t0

    def job(self, out: str, cut=uncut) -> None:
        cat = Catalog(self.spark, out)
        cat.append(cut("matching.match_captions", lambda: match_captions(
            self.spark.read.parquet(str(self.enriched_path)))), "caption_match")
        matched = cat.read("caption_match")
        cat.append(cut("stats.extraction_stats", lambda: extraction_stats(matched)),
                   "extraction_stats")
        cmp = cut("evaluate.compare_matches",
                  lambda: compare_matches(build_ground_truth(matched), matched))
        cat.append(cut("evaluate.evaluation_summary", lambda: evaluation_summary(cmp)),
                   "eval_summary")

    def check(self, out: str) -> list[str]:
        return checks.check_tables(self.oracle, out, self.tables)


class Dedup(Workload):
    def __init__(self, spark, seed, run_dir, cpus):
        super().__init__(spark, seed, run_dir, cpus)
        rows = inputs.dedup_documents(seed, DEDUP_DOCS)
        self.docs = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        self.oracle = checks.Oracle(self.docs)
        self.tables = {"jaccard_pairs": self.oracle.expect("dedup_jaccard"),
                       "quality": self.oracle.expect("quality")}
        self.n_docs = len(rows)

    def build(self) -> float:
        t0 = time.perf_counter()
        self.sf_dir = self.run_dir / "input"
        self._write(self.spark.createDataFrame(self.docs), self.sf_dir / "documents.parquet")
        return time.perf_counter() - t0

    def job(self, out: str, cut=uncut) -> None:
        cat = Catalog(self.spark, out)
        docs = self.spark.read.parquet(str(self.sf_dir / "documents.parquet"))
        cat.append(cut("dedup.minhash_lsh_pairs",
                       lambda: dd.minhash_lsh_pairs(docs, threshold=0.5)), "minhash_pairs")
        cat.append(cut("dedup.jaccard_pairs",
                       lambda: dd.jaccard_pairs(docs, threshold=0.3)), "jaccard_pairs")
        cat.append(cut("text.quality",
                       lambda: entry.q_quality(self.spark, str(self.sf_dir))), "quality")

    def layer_counts(self, inst, tracer, state, out, after, m) -> None:
        for node in tracer.plan_nodes_of(("dedup.minhash_lsh_pairs",), after):
            if node.name.endswith("Join") and "band" in node.desc:
                m["dedup.candidate_pairs"] += node.metrics.get("number of output rows", 0.0)

    def check(self, out: str) -> list[str]:
        return (checks.check_tables(self.oracle, out, self.tables)
                + checks.check_minhash(self.oracle, out))


class Downstream(Workload):
    """Everything after rendering, over committed tables: match_eval's
    re-match + evaluation, then dedup's pair operators and quality scores."""

    def __init__(self, spark, seed, run_dir, cpus):
        super().__init__(spark, seed, run_dir, cpus)
        self.parts = [MatchEval(spark, seed, run_dir / "match", cpus),
                      Dedup(spark, seed, run_dir / "dedup", cpus)]
        self.n_docs = sum(p.n_docs for p in self.parts)

    def build(self) -> float:
        t = sum(p.build() for p in self.parts)
        self.build_pages_s = self.parts[0].build_pages_s
        return t

    def job(self, out: str, cut=uncut) -> None:
        for p in self.parts:
            p.job(out, cut)

    def layer_counts(self, inst, tracer, state, out, after, m) -> None:
        for p in self.parts:
            p.layer_counts(inst, tracer, state, out, after, m)

    def check(self, out: str) -> list[str]:
        return [x for p in self.parts for x in p.check(out)]


WORKLOADS = {"extract": Extract, "downstream": Downstream}
