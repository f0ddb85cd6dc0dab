"""Caption <-> item spatial matching (SURVEY J1-J3, P8).

Reference semantics (caption_matcher.py:21-199, figure_extractor.py:144-272):
  * per page and per item type, score all (item, caption) pairs;
  * a pair is valid iff the caption lies in the type's search direction
    (figures: BELOW, tables: ABOVE by default), the vertical distance is
    <= 100 px, and the horizontal overlap is >= 0.3 of the smaller width;
  * greedy assignment: sort valid pairs by distance (stable, item-major
    enumeration order on ties), each item and each caption used at most once;
  * unmatched items keep NULL caption (left-join completion);
  * item ids are per-document cumulative counters in (page, detection-order)
    order: fig_%02d_%02d / table_%02d_%02d (figure_extractor.py:205-207,242-244).

Spark shape: the O(n*m) pair scoring is an equi-join on (url, page_no,
item_type) with the theta predicates as native column expressions — Catalyst
executes a hash join on the equi key and the per-page groups are tiny, so no
custom strategy is needed. Only the greedy tie-chain resolution is Python
(one vectorized pandas_udf over collect_list'ed candidate groups, usually
0-3 rows each).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..algorithms import greedy_assign
from ..functions.geometry import directional_distance, horizontal_overlap
from ..synthdata import (
    FIGURE_CAPTION_CLASSES,
    FIGURE_CLASSES,
    TABLE_CAPTION_CLASSES,
    TABLE_CLASSES,
)

MAX_VERTICAL_DISTANCE = 100.0
MIN_HORIZONTAL_OVERLAP = 0.3

_ASSIGN_SCHEMA = (
    "url string, page_no int, item_type string, item_idx int, cap_idx int"
)


def _split_items_captions(det: DataFrame) -> tuple[DataFrame, DataFrame]:
    # per-page pixel dims ride on the item side (the crop/overlay math
    # downstream clamps against the ITEM's page rect — figure_extractor.py
    # :117-133 page.rect is per page, never a corpus constant)
    dims = [c for c in ("width", "height") if c in det.columns]
    items = (
        det.where(F.col("class_name").isin(*FIGURE_CLASSES | TABLE_CLASSES))
        .select(
            "url",
            "page_no",
            *dims,
            F.when(F.col("class_name").isin(*FIGURE_CLASSES), "figure")
            .otherwise("table")
            .alias("item_type"),
            F.col("det_idx").alias("item_idx"),
            F.col("x1").alias("item_x1"),
            F.col("y1").alias("item_y1"),
            F.col("x2").alias("item_x2"),
            F.col("y2").alias("item_y2"),
        )
    )
    caps = (
        det.where(
            F.col("class_name").isin(*FIGURE_CAPTION_CLASSES | TABLE_CAPTION_CLASSES)
        )
        .select(
            "url",
            "page_no",
            F.when(F.col("class_name").isin(*FIGURE_CAPTION_CLASSES), "figure")
            .otherwise("table")
            .alias("item_type"),
            F.col("det_idx").alias("cap_idx"),
            F.col("x1").alias("cap_x1"),
            F.col("y1").alias("cap_y1"),
            F.col("x2").alias("cap_x2"),
            F.col("y2").alias("cap_y2"),
            *(
                [F.col("text").alias("cap_text")]
                if "text" in det.columns
                else []
            ),
        )
    )
    return items, caps


def candidate_pairs(
    det: DataFrame,
    figure_direction: str = "below",
    table_direction: str = "above",
    max_vertical_distance: float = MAX_VERTICAL_DISTANCE,
    min_horizontal_overlap: float = MIN_HORIZONTAL_OVERLAP,
) -> DataFrame:
    """Valid (item, caption) pairs with distance — the equi+theta join J1."""
    items, caps = _split_items_captions(det)

    fig_dist, fig_ok = directional_distance(
        F.col("item_y1"), F.col("item_y2"), F.col("cap_y1"), F.col("cap_y2"),
        figure_direction,
    )
    tab_dist, tab_ok = directional_distance(
        F.col("item_y1"), F.col("item_y2"), F.col("cap_y1"), F.col("cap_y2"),
        table_direction,
    )
    dist = F.when(F.col("item_type") == "figure", fig_dist).otherwise(tab_dist)
    dir_ok = F.when(F.col("item_type") == "figure", fig_ok).otherwise(tab_ok)
    overlap = horizontal_overlap(
        F.col("item_x1"), F.col("item_x2"), F.col("cap_x1"), F.col("cap_x2")
    )

    return (
        items.join(caps, ["url", "page_no", "item_type"])
        .withColumn("distance", dist)
        .where(dir_ok & (F.col("distance") <= max_vertical_distance)
               & (overlap >= min_horizontal_overlap))
    )


_CAP_PAYLOAD = ("cap_x1", "cap_y1", "cap_x2", "cap_y2")


def _greedy_batch(pairs: pd.Series) -> pd.Series:
    """Vectorized greedy: one input row per (url, page_no, item_type) group
    holding ALL candidate pairs of that group (from collect_list), so the
    per-group Python overhead is a single list pass, not a pandas DataFrame
    construction. Groups are O(10) pairs. The chosen caption's payload rides
    through the UDF so no join-back against the captions side is needed."""
    out = []
    for group in pairs:
        # item-major enumeration order on ties = (item_idx, cap_idx); the
        # collect_list order is nondeterministic, so impose it first
        entries = sorted(group, key=lambda p: (int(p["item_idx"]), int(p["cap_idx"])))
        triples = [
            (int(p["item_idx"]), int(p["cap_idx"]), float(p["distance"]))
            for p in entries
        ]
        assigned = greedy_assign(triples)
        by_cap = {int(p["cap_idx"]): p for p in entries}
        out.append([
            {
                "item_idx": i,
                "cap_idx": c,
                **{k: by_cap[c][k] for k in _CAP_PAYLOAD},
                "cap_text": by_cap[c].get("cap_text"),
            }
            for i, c in assigned.items()
        ])
    return pd.Series(out)


def _greedy_udf():
    # created lazily: pandas_udf resolves its return type against the
    # active SparkSession, so the decorator cannot run at import time
    return F.pandas_udf(
        _greedy_batch,
        "array<struct<item_idx: int, cap_idx: int, cap_x1: double, "
        "cap_y1: double, cap_x2: double, cap_y2: double, cap_text: string>>",
    )


def match_captions(
    det: DataFrame,
    figure_direction: str = "below",
    table_direction: str = "above",
    max_vertical_distance: float = MAX_VERTICAL_DISTANCE,
    min_horizontal_overlap: float = MIN_HORIZONTAL_OVERLAP,
) -> DataFrame:
    """Full matcher: candidate join -> greedy assignment -> left-join
    completion -> item ids. Returns one row per item:

    url, item_type, item_id, page_number, width/height (the item's page
    pixel dims, when det carries them), item_x1..y2,
    cap_x1..y2 (nullable), caption_text (nullable when det carries text).
    """
    items, _ = _split_items_captions(det)
    pairs = candidate_pairs(
        det, figure_direction, table_direction,
        max_vertical_distance, min_horizontal_overlap,
    )
    cand_fields = ["item_idx", "cap_idx", "distance", *_CAP_PAYLOAD]
    if "cap_text" in pairs.columns:
        cand_fields.append("cap_text")

    assignment = (
        pairs.groupBy("url", "page_no", "item_type")
        .agg(F.collect_list(F.struct(*cand_fields)).alias("cand"))
        .select(
            "url", "page_no", "item_type",
            F.explode(_greedy_udf()(F.col("cand"))).alias("a"),
        )
        .select("url", "page_no", "item_type",
                F.col("a.item_idx").alias("item_idx"),
                F.col("a.cap_x1").alias("cap_x1"),
                F.col("a.cap_y1").alias("cap_y1"),
                F.col("a.cap_x2").alias("cap_x2"),
                F.col("a.cap_y2").alias("cap_y2"),
                F.col("a.cap_text").alias("cap_text"))
    )

    matched = items.join(
        assignment, ["url", "page_no", "item_type", "item_idx"], "left"
    )

    # per-document cumulative counter in (page, detection order) —
    # figure_extractor.py:179-244
    w = Window.partitionBy("url", "item_type").orderBy("page_no", "item_idx")
    prefix = F.when(F.col("item_type") == "figure", F.lit("fig")).otherwise(F.lit("table"))
    # item_seq: the raw per-doc counter as an INTEGER. Downstream tie-breaks
    # (evaluate.compare_matches) must order by it, not by the %02d-formatted
    # item_id — past 99 pages/items lexicographic order diverges from the
    # reference's insertion order ("fig_100_x" < "fig_20_x").
    out_cols = [
        "url",
        "item_type",
        F.concat(prefix, F.format_string("_%02d_%02d", F.col("page_no"), F.row_number().over(w)))
        .alias("item_id"),
        F.row_number().over(w).alias("item_seq"),
        F.col("page_no").alias("page_number"),
        *(c for c in ("width", "height") if c in matched.columns),
        "item_x1", "item_y1", "item_x2", "item_y2",
        "cap_x1", "cap_y1", "cap_x2", "cap_y2",
    ]
    if "cap_text" in matched.columns:
        out_cols.append(F.col("cap_text").alias("caption_text"))
    return matched.select(*out_cols)
