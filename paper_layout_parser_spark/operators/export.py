"""Label-Studio export projection (SURVEY K7 —
scripts/export_to_label_studio.py:114-123, 219-393).

The exportable core is a projection: pixel bboxes -> percent coordinates
relative to the page size, one row per item with its matched caption
region. Pure column arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import round_half_up


def to_percent_coords(matched: DataFrame, page_w: int | None = None,
                      page_h: int | None = None) -> DataFrame:
    """bbox -> Label-Studio percent geometry (x, y, width, height in % of
    the page — export_to_label_studio.py:114-123), 2 dp half-up.

    Percentages are relative to EACH page's own pixel size (the reference
    exports against the task image's dimensions): default reads the row's
    ``width``/``height`` columns; scalar overrides are for uniform-size
    corpora only."""
    w_src = F.col("width") if page_w is None else F.lit(float(page_w))
    h_src = F.col("height") if page_h is None else F.lit(float(page_h))

    def pct(col, total):
        return round_half_up(col / total * 100.0, 2)

    return matched.select(
        "url",
        "item_id",
        "item_type",
        F.col("page_number"),
        pct(F.col("item_x1"), w_src).alias("x_pct"),
        pct(F.col("item_y1"), h_src).alias("y_pct"),
        pct(F.col("item_x2") - F.col("item_x1"), w_src).alias("w_pct"),
        pct(F.col("item_y2") - F.col("item_y1"), h_src).alias("h_pct"),
        F.when(
            F.col("cap_x1").isNotNull(),
            F.struct(
                pct(F.col("cap_x1"), w_src).alias("x_pct"),
                pct(F.col("cap_y1"), h_src).alias("y_pct"),
                pct(F.col("cap_x2") - F.col("cap_x1"), w_src).alias("w_pct"),
                pct(F.col("cap_y2") - F.col("cap_y1"), h_src).alias("h_pct"),
            ),
        ).alias("caption_region"),
    )

