"""Page -> detections flatMap (reference: layout_detector.py:96-194).

Batched model inference as mapInPandas with the iterator-init pattern: the
backend (model) is constructed ONCE per task, then fed whole Arrow batches —
the reference's ``detect_batch`` (layout_detector.py:96-109) is a sequential
per-image loop; this version is genuinely batched and, on a real cluster,
pinned to GPU executors via a resource profile.

Backends are pluggable behind one schema:
  * StubDetectorBackend — deterministic: decodes the synthetic page payload
    (tests / oracle parity).
  * YoloDetectorBackend — real DocLayout-YOLO; gated behind import-try since
    the model/libs are not in this container.

Post-processing (class-name normalization P3, output rounding P4) is native
Spark SQL, not Python.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAW_DETECTION_SCHEMA = (
    "url string, page_no int, width int, height int, det_idx int, "
    "class_id int, raw_name string, confidence double, "
    "x1 double, y1 double, x2 double, y2 double"
)

# thresholds from the reference config (config/config.yaml:7-12; main.py:204-205)
DEFAULT_CONF = 0.25
DEFAULT_IOU = 0.45
DEFAULT_IMGSZ = 1024


class StubDetectorBackend:
    """Deterministic detector: reads detections straight out of the synthetic
    page payload, in model-output order, applying the confidence threshold
    exactly as the real model invocation does (layout_detector.py:162-169).
    NMS stays inside the model (stub payloads are already non-overlapping)."""

    def __init__(self, conf: float = DEFAULT_CONF, iou: float = DEFAULT_IOU,
                 imgsz: int = DEFAULT_IMGSZ):
        self.conf = conf
        self.iou = iou
        self.imgsz = imgsz

    def detect_page(self, page: dict) -> list[dict]:
        """Detections of one PARSED page dict — the single source of the
        stub's detection contract (threshold, field mapping); used by
        detect_batch and by the fused pipeline stage's dict fast path."""
        return [
            {
                "class_id": blk["class_id"],
                "raw_name": blk["name"],
                "confidence": blk["conf"],
                "bbox": blk["bbox"],
            }
            for blk in page["blocks"]
            if blk["conf"] >= self.conf
        ]

    def detect_batch(self, payloads: list[bytes]) -> list[list[dict]]:
        return [self.detect_page(json.loads(bytes(p))) for p in payloads]


class YoloDetectorBackend:
    """Real DocLayout-YOLO backend (layout_detector.py:125-194). The model
    weights / ultralytics stack are not available in this sandbox; the class
    exists so a cluster deployment only swaps the backend factory."""

    def __init__(self, model_path: str, conf: float = DEFAULT_CONF,
                 iou: float = DEFAULT_IOU, imgsz: int = DEFAULT_IMGSZ):
        try:
            from doclayout_yolo import YOLOv10  # type: ignore
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "DocLayout-YOLO is not installed in this environment; "
                "use StubDetectorBackend or deploy with the model wheels."
            ) from exc
        self._model = YOLOv10(model_path)  # pragma: no cover
        self.conf, self.iou, self.imgsz = conf, iou, imgsz

    def detect_batch(self, payloads: list[bytes]) -> list[list[dict]]:  # pragma: no cover
        raise NotImplementedError("decode pixmap bytes -> model.predict batch")


def rasterize_detect_enrich(planned: DataFrame,
                            backend_factory=StubDetectorBackend,
                            profile=None) -> DataFrame:
    """The pipeline's extraction stage: plan chunks -> ONE mapInPandas
    stage doing rasterize (real render work, rasterize._render_page) +
    detection + clipped text + XY-cut. It is the only code that renders.

    Chunks are decoded with ``rasterize.decode_chunk``, the same decoder
    ``rasterize_pages`` slices with. With the default StubDetectorBackend
    the detections are read straight off the parsed page dict —
    value-identical to ``detect_batch([serialize_page(page)])`` because
    the stub's parse of the serialized page is the page (pinned by
    tests/test_pipeline.py's check of ``enriched`` against the synthdata
    spec and the pipeline oracle queries). Any other backend receives
    payloads through its ``detect_batch`` contract, batched per Arrow
    batch; when the whole batch fails, each page is retried alone so only
    the bad page quarantines. Those payloads are ``rasterize.
    serialize_page`` bytes, byte-identical to ``rasterize_pages``'
    ``page_payload``. They are re-serialized from the decoded chunk, not
    cut from the original document bytes: value-identical to the source
    page, but a backend must not assume they are byte-identical to it.

    Emits RAW names/values plus ``reading_order_rank``/``text`` and the
    columns ``stage``/``error``, which mark two more row kinds besides the
    detections (``stage`` null):

      * page rows — one per page whose render succeeded, ``stage='page'``,
        ``det_idx=-1``, ``error`` null, the page's ``width``/``height``.
        A page whose detect leg later fails keeps its page row, so
        per-doc page counts read from this one output;
      * quarantine rows — ``error`` set, ``stage`` 'rasterize' for
        chunk-decode and render failures, 'detect' for inference/
        enrichment failures.

    Run normalize_detections after (it passes ``stage``/``error``
    through)."""
    from ..algorithms import clip_text, xy_cut_order
    from .rasterize import _render_page, decode_chunk, serialize_page

    schema = (RAW_DETECTION_SCHEMA
              + ", reading_order_rank int, text string, "
              "stage string, error string")
    names = [c.split()[0] for c in schema.split(", ")]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = backend_factory()  # once per task, never per row/batch
        stub_fast = type(backend) is StubDetectorBackend
        for pdf in it:
            cols: dict[str, list] = {c: [] for c in names}
            out = list(cols.values())

            def emit(url, page_no, w, h, det=None, det_idx=-1, rank=-1,
                     text=None, stage=None, error=None):
                # the one row writer for all three row kinds; a page or
                # quarantine row (det None) carries the -1/null placeholders
                if det is None:
                    det_vals = (-1, None, None, None, None, None, None)
                else:
                    x1, y1, x2, y2 = det["bbox"]
                    det_vals = (det["class_id"], det["raw_name"],
                                det["confidence"], x1, y1, x2, y2)
                for col, v in zip(out, (url, page_no, w, h, det_idx, *det_vals,
                                        rank, text, stage, error)):
                    col.append(v)

            def emit_error(url, page_no, w, h, stage, exc):
                # C6 error containment: a bad chunk/page becomes a
                # quarantine row, never a failed job
                emit(url, int(page_no), w, h, stage=stage,
                     error=f"{type(exc).__name__}: {exc}")

            # rasterize leg: decode chunks, render pages (error rows are
            # stage 'rasterize')
            pages: list[tuple] = []   # (url, page dict) for rendered pages
            for url, payload, start, end in zip(
                pdf["url"], pdf["html"], pdf["page_start"], pdf["page_end"]
            ):
                try:
                    in_range = decode_chunk(payload, start, end)
                except Exception as exc:  # noqa: BLE001 — C6 quarantine
                    emit_error(url, int(start), 0, 0, "rasterize", exc)
                    continue
                for pg in in_range:
                    try:
                        _render_page(pg)
                        pages.append((url, pg))
                    except Exception as exc:  # noqa: BLE001
                        emit_error(url, pg.get("page_no", int(start)), 0, 0,
                                   "rasterize", exc)

            # detect leg: batched inference (generic backends get the
            # serialized payload contract; the stub reads the parsed dict
            # PER PAGE inside the containment try below, so a malformed
            # block quarantines only that page)
            results = None
            if not stub_fast:
                payloads = [serialize_page(pg) for _url, pg in pages]
                try:
                    results = backend.detect_batch(payloads)
                except Exception:  # noqa: BLE001 — isolate the bad page
                    results = None

            for idx, (url, pg) in enumerate(pages):
                page_no, w, h = pg["page_no"], pg["width"], pg["height"]
                emit(url, page_no, w, h, stage="page")
                try:
                    if stub_fast:
                        dets = backend.detect_page(pg)
                    else:
                        dets = (results[idx] if results is not None
                                else backend.detect_batch([payloads[idx]])[0])
                    blocks = pg["blocks"]
                    boxes = [tuple(d["bbox"]) for d in dets]
                    order = xy_cut_order(boxes)
                    ranks = [0] * len(order)
                    for rank, pos in enumerate(order):
                        ranks[pos] = rank
                    texts = [clip_text(blocks, *d["bbox"]) for d in dets]
                except Exception as exc:  # noqa: BLE001 — quarantine
                    emit_error(url, page_no, w, h, "detect", exc)
                    continue
                for i, d in enumerate(dets):
                    emit(url, page_no, w, h, d, i, ranks[i], texts[i])
            yield pd.DataFrame(cols)

    return planned.mapInPandas(run, schema=schema, profile=profile)


def normalize_detections(raw: DataFrame) -> DataFrame:
    """Native post-processing: class-name normalization exactly as
    layout_detector.py:143-146 (``name.replace('_','-').title().replace(' ','-')``
    == translate to spaces -> initcap -> translate back), confidence rounded
    to 4 dp and bbox to 2 dp (layout_detector.py:46-58). Pure column exprs —
    whole-stage codegen, no Python. Passes through the fused stage's
    enrichment and row-kind columns (reading_order_rank, text, stage,
    error) when present."""
    extra = [c for c in ("reading_order_rank", "text", "stage", "error")
             if c in raw.columns]
    return raw.select(
        "url",
        "page_no",
        "width",
        "height",
        "det_idx",
        "class_id",
        F.translate(F.initcap(F.translate(F.translate("raw_name", "_", "-"), "-", " ")), " ", "-")
        .alias("class_name"),
        F.round("confidence", 4).alias("confidence"),
        F.round("x1", 2).alias("x1"),
        F.round("y1", 2).alias("y1"),
        F.round("x2", 2).alias("x2"),
        F.round("y2", 2).alias("y2"),
        *extra,
    )
