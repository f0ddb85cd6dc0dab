"""End-to-end pipeline tests on a slice of the synthetic corpus:
byte-identity of assembled text, stats parity with the Python spec,
detection parity, skew-plan behavior."""

import json

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.corpus import build_pages
from paper_layout_parser_spark.operators.rasterize import plan_splits
from paper_layout_parser_spark.operators.stats import (
    class_stats,
    extraction_stats,
    page_detection_counts,
    summary_report,
)
from paper_layout_parser_spark.plans.pipeline import run_pipeline

from .conftest import SF_SMALL

N_DOCS = 60  # slice for speed; includes doc_id 0 (a 64-page giant)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < N_DOCS
    ).persist()
    out = run_pipeline(pages)
    out.matched = out.matched.persist()
    yield pages, out
    pages.unpersist()


def test_byte_identity_doc_text(corpus):
    pages, out = corpus
    joined = out.doc_text.join(pages.select("url", "text"), "url")
    assert joined.count() == N_DOCS
    assert joined.where("doc_text <> text").count() == 0


def test_detections_match_spec(corpus):
    _, out = corpus
    rows = out.enriched.collect()
    by_page = {}
    for r in rows:
        by_page.setdefault((r["url"], r["page_no"]), []).append(r)
    checked = 0
    for (url, p), dets in by_page.items():
        doc_id = int(url.rsplit("/", 1)[1])
        spec = sd.page_blocks(doc_id, p)
        dets = sorted(dets, key=lambda r: r["det_idx"])
        assert len(dets) == len(spec)
        for d, blk in zip(dets, spec):
            assert d["class_name"] == blk["class_name"]
            assert d["confidence"] == blk["confidence"]
            assert (d["x1"], d["y1"], d["x2"], d["y2"]) == (
                blk["x1"], blk["y1"], blk["x2"], blk["y2"])
            assert d["text"] == blk["text"]
        checked += 1
    assert checked == sum(sd.n_pages(d) for d in range(N_DOCS))


def test_doc_stats_and_summary(corpus):
    _, out = corpus
    stats = {r["url"]: r for r in out.doc_stats.collect()}
    assert len(stats) == N_DOCS
    for doc_id in range(N_DOCS):
        url = sd.url_of(doc_id)
        blocks = [b for p in range(1, sd.n_pages(doc_id) + 1)
                  for b in sd.page_blocks(doc_id, p)]
        r = stats[url]
        assert r["total_pages"] == sd.n_pages(doc_id)
        assert r["total_detections"] == len(blocks)
        import math
        expected_avg = math.floor(len(blocks) / sd.n_pages(doc_id) * 100 + 0.5) / 100
        assert r["average_detections_per_page"] == expected_avg
    summ = summary_report(out.doc_stats).collect()[0]
    assert summ["total_documents"] == N_DOCS
    assert summ["total_pages"] == sum(sd.n_pages(d) for d in range(N_DOCS))


def test_page_counts_include_detect_fault_pages(spark):
    """A page that renders but fails detection still counts toward its
    document's total_pages, and quarantines exactly once as 'detect'. A
    page that fails to render (it still serializes) counts nowhere: it is
    absent from the rasterized page table and from total_pages, and
    quarantines exactly once as 'rasterize' — also when its malformed
    width would not fit the page table's int column."""
    good_block = {"b": 0, "class_id": 0, "name": "Title", "conf": 0.9,
                  "bbox": [10.0, 10.0, 100.0, 50.0], "text": "title p1"}
    bad_block = {"b": 0, "class_id": 0, "conf": 0.9,  # no 'name'
                 "bbox": [10.0, 10.0, 100.0, 50.0], "text": "title p2"}
    unrenderable = dict(good_block, bbox=["a", 10.0, 100.0, 50.0])

    def two_pages(page2_block, page2_width=400):
        body = json.dumps({"v": 1, "pages": [
            {"page_no": 1, "width": 400, "height": 400, "blocks": [good_block]},
            {"page_no": 2, "width": page2_width, "height": 400,
             "blocks": [page2_block]},
        ]}).encode()
        return sd.HTML_MAGIC + b"\x00\x00\x00\x02" + body

    rows = [
        ("u_clean", sd.doc_html(4)),
        ("u_detect_fault", two_pages(bad_block)),
        ("u_render_fault", two_pages(unrenderable)),
        ("u_size_fault", two_pages(good_block, page2_width="400")),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary").select(
        "url",
        F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )
    out = run_pipeline(pages)
    stats = {r["url"]: r for r in out.doc_stats.collect()}
    assert stats["u_detect_fault"]["total_pages"] == 2
    assert stats["u_detect_fault"]["total_detections"] == 1
    assert stats["u_clean"]["total_pages"] == sd.n_pages(4)
    assert stats["u_render_fault"]["total_pages"] == 1
    assert stats["u_size_fault"]["total_pages"] == 1
    q = sorted((r["url"], r["page_no"], r["stage"])
               for r in out.quarantine.collect())
    assert q == [("u_detect_fault", 2, "detect"),
                 ("u_render_fault", 2, "rasterize"),
                 ("u_size_fault", 2, "rasterize")]
    for url in ("u_render_fault", "u_size_fault"):
        rasterized = [r["page_no"] for r in
                      out.rasterized.where(F.col("url") == url).collect()]
        assert rasterized == [1]


def test_class_stats_exact_average(corpus):
    _, out = corpus
    got = {r["class_name"]: r for r in class_stats(out.enriched).collect()}
    # recompute from spec: sums of 1/16-multiples are exact in binary
    sums, counts = {}, {}
    for doc_id in range(N_DOCS):
        for p in range(1, sd.n_pages(doc_id) + 1):
            for b in sd.page_blocks(doc_id, p):
                sums[b["class_name"]] = sums.get(b["class_name"], 0.0) + b["confidence"]
                counts[b["class_name"]] = counts.get(b["class_name"], 0) + 1
    import math
    for cn, n in counts.items():
        assert got[cn]["n_detections"] == n
        expected = math.floor(sums[cn] / n * 10000 + 0.5) / 10000
        assert got[cn]["avg_confidence"] == expected


def test_page_detection_counts(corpus):
    _, out = corpus
    got = {(r["url"], r["page_no"]): r["num_detections"]
           for r in page_detection_counts(out.enriched).collect()}
    for doc_id in (0, 1, 13, 59):
        for p in range(1, sd.n_pages(doc_id) + 1):
            assert got[(sd.url_of(doc_id), p)] == len(sd.page_blocks(doc_id, p))


def test_extraction_stats_truthy_caption(corpus):
    _, out = corpus
    got = {(r["url"], r["item_type"]): r for r in extraction_stats(out.matched).collect()}
    # spot-check one url against the spec-derived expectation
    for doc_id in (1, 13):
        url = sd.url_of(doc_id)
        fig_total = fig_cap = 0
        for p in range(1, sd.n_pages(doc_id) + 1):
            s = sd.scenario(doc_id, p)
            if s <= 4:
                fig_total += 1
                if s == 0:
                    fig_cap += 1
        if fig_total:
            r = got[(url, "figure")]
            assert (r["total_items"], r["items_with_captions"]) == (fig_total, fig_cap)


def test_plan_splits_spreads_giant_docs(spark):
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long").isin(0, 1, 2)
    )
    planned = plan_splits(pages, chunk_pages=16, num_partitions=8)
    chunks = planned.groupBy("url").count().collect()
    by_url = {r["url"]: r["count"] for r in chunks}
    assert by_url[sd.url_of(0)] == 4       # 64 pages / 16 per chunk
    assert by_url[sd.url_of(1)] == 1
    # giant doc's chunks must not all share one partition
    pids = (
        planned.where(F.col("url") == sd.url_of(0))
        .select(F.spark_partition_id().alias("pid")).distinct().count()
    )
    assert pids >= 2


def test_chunk_payload_proportional_to_pages(spark):
    """Skew defense must not amplify: each chunk of a multi-chunk document
    carries ONLY its own pages' bytes through the exchange (a giant doc must
    not put N copies of itself through the shuffle)."""
    pages = build_pages(spark, SF_SMALL).where(F.col("url") == sd.url_of(0))
    full_len = len(pages.select("html").first()["html"])  # 64-page giant
    planned = plan_splits(pages, chunk_pages=16, num_partitions=4)
    sizes = [r["n"] for r in planned.select(F.length("html").alias("n")).collect()]
    assert len(sizes) == 4
    # sliced payloads sum to ~the original (tiny per-chunk header overhead),
    # not chunks x original
    assert sum(sizes) < full_len * 1.05
    assert max(sizes) < full_len / 2


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The dedup exchange key must be the 64-bit hash + length, never the
    raw text column (at 100 TB the full-text shuffle is the dominant cost)."""
    from paper_layout_parser_spark.operators.dedup import exact_dedup
    from .test_plans import plan_of

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = exact_dedup(docs)
    plan = plan_of(spark, out, "simple")
    assert "xxhash64(text" in plan
    # Catalyst folds the aliased keys into _groupingexpression columns; the
    # exchange must partition on those derived (hash, length) keys
    assert "hashpartitioning(_groupingexpression" in plan
    # the raw text column must not be a partitioning key
    assert "hashpartitioning(text" not in plan
    # still correct: driver corpus has no dupes -> one row per doc
    assert out.count() == docs.count()


def test_rasterize_page_counts(corpus):
    pages, out = corpus
    got = out.rasterized.groupBy("url").count().collect()
    for r in got:
        doc_id = int(r["url"].rsplit("/", 1)[1])
        assert r["count"] == sd.n_pages(doc_id)


def test_enriched_matches_spec(spark):
    """Every enriched row of the single extraction path equals the synthdata
    spec: model-output det_idx, normalized class, rounded values, clipped
    text, and a reading order that is (y1, x1) order on this corpus."""
    n = 15
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < n
    )
    cols = ["url", "page_no", "width", "height", "det_idx", "class_id",
            "class_name", "confidence", "x1", "y1", "x2", "y2",
            "reading_order_rank", "text"]
    out = run_pipeline(pages)
    got = sorted(tuple(r) for r in out.enriched.select(cols).collect())
    out.unpersist()
    want = []
    for doc_id in range(n):
        for p in range(1, sd.n_pages(doc_id) + 1):
            w, h = sd.page_dims(doc_id, p)
            blocks = sd.page_blocks(doc_id, p)
            order = sorted(range(len(blocks)),
                           key=lambda i: (blocks[i]["y1"], blocks[i]["x1"], i))
            for i, b in enumerate(blocks):
                want.append((sd.url_of(doc_id), p, w, h, i, b["class_id"],
                             b["class_name"], b["confidence"], b["x1"],
                             b["y1"], b["x2"], b["y2"], order.index(i),
                             b["text"]))
    assert got == sorted(want)


def test_determinism_under_repartitioning(spark):
    """Shuffle-robustness: identical outputs regardless of partition counts
    and chunk sizes (the determinism class that breaks silently at scale)."""
    pages = build_pages(spark, SF_SMALL).where(
        F.regexp_extract("url", r"([0-9]+)$", 1).cast("long") < 25
    ).persist()

    def run(chunk, nparts):
        out = run_pipeline(pages, chunk_pages=chunk, num_partitions=nparts)
        text = {r["url"]: r["doc_text"] for r in out.doc_text.collect()}
        items = {(r["url"], r["item_id"]): (r["cap_y1"], r["caption_text"])
                 for r in out.matched.collect()}
        out.unpersist()
        return text, items

    t1, i1 = run(16, 8)
    t2, i2 = run(4, 3)     # giant doc split into many more chunks
    t3, i3 = run(64, 17)   # single chunk per doc, odd partition count
    assert t1 == t2 == t3
    assert i1 == i2 == i3
