"""End-to-end extraction pipeline (SURVEY §3.1 Spark shape):

pages -> plan_splits (skew salting)
      -> ONE mapInPandas stage: render + detect + clipped text + XY-cut
         (rasterize_detect_enrich; emits detection, page and quarantine
         rows) -> normalize (native) -> persist once
      -> { enriched (detection rows) -> stats aggs || caption matching
           || groupBy(url) doc-text assembly;
           page rows -> per-doc page counts, and the page set of
           `rasterized` (rasterize_pages' slices, no render);
           error rows -> quarantine }

Every page is rendered once: the persisted fused output is the hub that
enriched, quarantine, the per-doc page counts and the rasterized page set
all read. Release it with
``PipelineOutputs.unpersist()`` (see sources.catalog for the Iceberg/parquet
stage-checkpoint helper that replaces the persist on a cluster).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assembly import assemble_doc_text
from ..operators.detect import (
    StubDetectorBackend,
    normalize_detections,
    rasterize_detect_enrich,
)
from ..operators.matching import match_captions
from ..operators.rasterize import plan_splits, rasterize_pages
from ..operators.stats import doc_stats


@dataclass
class PipelineOutputs:
    # one row per rendered page with its payload: rasterize_pages' slices
    # (no render) kept to the fused output's page rows. Only crops
    # (render_crops) and VLM requests (build_vlm_requests) read it
    rasterized: DataFrame
    detections: DataFrame     # normalized detections
    enriched: DataFrame       # + reading_order_rank, clipped text
    matched: DataFrame        # extracted items with captions
    doc_text: DataFrame       # url, doc_text (byte-identity surface)
    doc_stats: DataFrame      # per-url totals
    quarantine: DataFrame     # failed pages (url, page_no, stage, error)
    fused: DataFrame          # normalized fused-stage output (the cache)

    def unpersist(self) -> None:
        """Release the pipeline's one cached frame. ``enriched`` and the
        other outputs derive from it, so their own unpersist() is a no-op."""
        self.fused.unpersist()


def run_pipeline(
    pages: DataFrame,
    backend_factory=StubDetectorBackend,
    chunk_pages: int = 16,
    num_partitions: int | None = None,
) -> PipelineOutputs:
    planned = plan_splits(pages, chunk_pages=chunk_pages, num_partitions=num_partitions)
    # rasterize + inference + clipped text + XY-cut in ONE mapInPandas
    # stage, the only render of the job (see rasterize_detect_enrich).
    # Persisted: enriched / quarantine / page counts / the rasterized page
    # set (and through them matched, doc_text, doc_stats) all read it. On a
    # cluster, replace the persist with a catalog.checkpoint_stage (same
    # cut point, durable + resumable).
    fused = normalize_detections(
        rasterize_detect_enrich(planned, backend_factory)).persist()
    page_rows = fused.where(F.col("stage") == "page")
    # the page payloads are re-sliced from the chunks, not cached; the
    # semi-join keeps exactly the pages the fused stage rendered
    rasterized = (
        rasterize_pages(planned).where(F.col("error").isNull()).drop("error")
        .join(page_rows.select("url", "page_no"), ["url", "page_no"], "left_semi")
    )
    enriched = fused.where(F.col("stage").isNull()).drop("stage", "error")
    # C6 error containment: failed chunks/pages are quarantine rows with
    # their stage label, never failed jobs (main.py:336-354 analogue)
    quarantine = fused.where(F.col("error").isNotNull()).select(
        "url", "page_no", "stage", "error"
    )
    # page rows count every rendered page, including zero-detection pages
    # and pages whose detect leg failed
    total_pages = page_rows.groupBy("url").agg(
        F.count("*").cast("int").alias("total_pages")
    )
    return PipelineOutputs(
        rasterized=rasterized,
        detections=enriched.drop("reading_order_rank", "text"),
        enriched=enriched,
        matched=match_captions(enriched),
        doc_text=assemble_doc_text(enriched),
        doc_stats=doc_stats(enriched, total_pages=total_pages),
        quarantine=quarantine,
        fused=fused,
    )
