#!/usr/bin/env python
"""Round-9 optimization measurement harness.

``bench.py`` is FROZEN for driver measurement, so every extra probe this
optimization round needs lives here (guide §1: measure first, isolate
with the noop sink, label jobs).

Modes:
  --stages    per-stage wall decomposition of the extraction job at
              $SPARK_GRAFT_SF_DIR — plan_splits, the fused render+detect+
              enrich stage, assembly, caption matching, each timed against
              a persisted upstream — plus best-of-3 end-to-end timings of
              the three pipeline queries (doc_text / caption_match /
              eval_summary).
  --kernels   single-process micro-profile of the per-page Python work
              inside the rasterize/detect stages (render kernel, JSON
              encode/decode, clip_text, xy_cut) — apportions the Python
              seconds inside the mapInPandas stages.
  --queries   isolated best-of-N timing (bench methodology: .count())
              of the training-data queries, one fresh warmed session.
  --explain   dump .explain('formatted') for the 8 bench-timed queries
              to plans/r09/<query>_<tag>.txt (tag = argv word, default
              'before').

Results are cited in OPTIMIZATION_r09.md; nothing here feeds the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from bench import _fresh_spark

    return _fresh_spark(CPUS)


def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def stages_mode() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from bench import materialize_pages, run_extraction
    from paper_layout_parser_spark.operators.assembly import assemble_doc_text
    from paper_layout_parser_spark.operators.detect import (
        normalize_detections,
        rasterize_detect_enrich,
    )
    from paper_layout_parser_spark.operators.matching import match_captions
    from paper_layout_parser_spark.operators.rasterize import plan_splits

    spark = _spark()
    sc = spark.sparkContext
    warm = materialize_pages(spark, "/root/testdata/sf0.001")
    run_extraction(spark, warm)
    pages_path = materialize_pages(spark, SF_DIR)
    out = {}

    pages = spark.read.parquet(pages_path)
    sc.setJobDescription("stage: plan_splits")
    t = time.monotonic()
    planned = plan_splits(pages).persist(StorageLevel.MEMORY_AND_DISK)
    planned.count()
    out["plan_splits"] = round(time.monotonic() - t, 3)

    sc.setJobDescription("stage: fused (render + detect + enrich)")
    t = time.monotonic()
    fused = normalize_detections(rasterize_detect_enrich(planned)).persist(
        StorageLevel.MEMORY_AND_DISK)
    fused.count()
    out["fused"] = round(time.monotonic() - t, 3)
    out["n_pages"] = fused.where(F.col("stage") == "page").count()
    enriched = fused.where(F.col("stage").isNull()).drop("stage", "error")
    out["n_det"] = enriched.count()

    sc.setJobDescription("stage: assemble")
    t = time.monotonic()
    assemble_doc_text(enriched).count()
    out["assemble"] = round(time.monotonic() - t, 3)

    sc.setJobDescription("stage: match_captions (from persisted enriched)")
    t = time.monotonic()
    match_captions(enriched).count()
    out["match_captions"] = round(time.monotonic() - t, 3)

    planned.unpersist()
    fused.unpersist()

    # fused end-to-end timings, bench methodology, best-of-3
    runs = [run_extraction(spark, pages_path) for _ in range(3)]
    for k in ("t_doc_text", "t_caption_match", "t_eval"):
        out[k + "_best"] = round(min(r[k] for r in runs), 3)
    spark.stop()
    print(json.dumps(out))


def kernels_mode() -> None:
    """Apportion the per-page Python seconds (no Spark): generate the
    sf0.1 page set locally and time each kernel over the whole corpus,
    reporting total single-thread seconds (divide by 32 for the ideal
    parallel share)."""
    import pyarrow.parquet as pq

    from paper_layout_parser_spark import synthdata as sd
    from paper_layout_parser_spark.algorithms import clip_text, xy_cut_order
    from paper_layout_parser_spark.operators.rasterize import _render_page

    doc_ids = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_pylist()

    t0 = time.monotonic()
    htmls = [sd.doc_html(d) for d in doc_ids]
    t_gen = time.monotonic() - t0

    # decode chunk JSON (the rasterize stage's json.loads per chunk)
    t0 = time.monotonic()
    docs = [json.loads(h[8:]) for h in htmls]
    t_loads_chunk = time.monotonic() - t0

    pages = [pg for d in docs for pg in d["pages"]]
    n_pages = len(pages)

    # per-page json.dumps (rasterize emits page_payload)
    t0 = time.monotonic()
    payloads = [json.dumps(pg, separators=(",", ":")).encode() for pg in pages]
    t_dumps_page = time.monotonic() - t0

    # per-page json.loads x2 (detect_batch + blocks re-parse)
    t0 = time.monotonic()
    for p in payloads:
        json.loads(p)
    t_loads_page = time.monotonic() - t0

    # render kernel — strided sample (page sizes vary deterministically
    # across the corpus, so a prefix sample would be biased)
    t0 = time.monotonic()
    for pg in pages[::4]:
        _render_page(pg)
    t_render = (time.monotonic() - t0) * 4

    # detect + clip + xy_cut per page
    t0 = time.monotonic()
    for pg in pages:
        dets = [b for b in pg["blocks"] if b["conf"] >= 0.25]
        boxes = [tuple(b["bbox"]) for b in dets]
        xy_cut_order(boxes)
        for b in dets:
            clip_text(pg["blocks"], *b["bbox"])
    t_detect = time.monotonic() - t0

    print(json.dumps({
        "n_pages": n_pages,
        "gen_html_s": round(t_gen, 2),
        "loads_chunk_s": round(t_loads_chunk, 2),
        "dumps_page_s": round(t_dumps_page, 2),
        "loads_page_x1_s": round(t_loads_page, 2),
        "render_s_est": round(t_render, 2),
        "render_ms_per_page": round(1000 * t_render / n_pages, 3),
        "detect_clip_xycut_s": round(t_detect, 2),
    }))


_BENCH_QUERIES = ("dedup_jaccard", "ann_topk", "quality", "fingerprint")


def queries_mode() -> None:
    import __spark_entry__ as e
    from paper_layout_parser_spark.operators import dedup as dd

    spark = _spark()
    out = {}

    def bestof(name, job, n=3):
        for _ in range(2):
            job()
        best = float("inf")
        for _ in range(n):
            t = time.monotonic()
            job()
            best = min(best, time.monotonic() - t)
        out[name] = round(best, 3)

    for name in _BENCH_QUERIES:
        spark.sparkContext.setJobDescription(f"isolated: {name}")
        bestof(name, lambda n=name: e.queries()[n](spark, SF_DIR).count())
    spark.sparkContext.setJobDescription("isolated: dedup_minhash_lsh")
    bestof("dedup_minhash_lsh",
           lambda: dd.minhash_lsh_pairs(e._docs(spark, SF_DIR),
                                        threshold=0.5).count())
    spark.stop()
    print(json.dumps(out))


def explain_mode(tag: str = "before") -> None:
    import __spark_entry__ as e
    from bench import materialize_pages, run_extraction
    from paper_layout_parser_spark.corpus import build_ground_truth
    from paper_layout_parser_spark.operators import dedup as dd
    from paper_layout_parser_spark.operators.evaluate import (
        compare_matches,
        evaluation_summary,
    )
    from paper_layout_parser_spark.plans.pipeline import run_pipeline

    here = os.path.dirname(os.path.abspath(__file__))
    outdir = os.path.join(here, "plans", "r09")
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()

    def dump(name, df):
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        print("dumped", name)

    pages_path = materialize_pages(spark, "/root/testdata/sf0.001")
    pages = spark.read.parquet(pages_path)
    out = run_pipeline(pages)
    dump("doc_text", out.doc_text)
    dump("caption_match", out.matched)
    # mirror run_extraction: matched is persisted+counted before the eval leg
    out.matched = out.matched.persist()
    out.matched.count()
    gt = build_ground_truth(out.matched)
    dump("eval_summary", evaluation_summary(compare_matches(gt, out.matched)))
    sf = "/root/testdata/sf0.001"
    dump("dedup_jaccard", e.queries()["dedup_jaccard"](spark, sf))
    dump("ann_topk", e.queries()["ann_topk"](spark, sf))
    dump("quality", e.queries()["quality"](spark, sf))
    dump("fingerprint", e.queries()["fingerprint"](spark, sf))
    dump("dedup_minhash_lsh",
         dd.minhash_lsh_pairs(e._docs(spark, sf), threshold=0.5))
    spark.stop()


if __name__ == "__main__":
    if "--stages" in sys.argv:
        stages_mode()
    elif "--kernels" in sys.argv:
        kernels_mode()
    elif "--queries" in sys.argv:
        queries_mode()
    elif "--explain" in sys.argv:
        i = sys.argv.index("--explain")
        tag = sys.argv[i + 1] if len(sys.argv) > i + 1 else "before"
        explain_mode(tag)
    else:
        print(__doc__)
