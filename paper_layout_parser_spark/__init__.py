"""paper_layout_parser_spark — a from-scratch PySpark-native rebuild of the
page-layout-extraction capabilities of Zbaoli/paper-layout-parser.

The reference (/root/reference) is a single-process Python pipeline:
PDF -> page images -> layout detection -> caption matching -> stats/eval.
This package re-expresses the same semantics as Spark DataFrame stages over
a Common-Crawl-style ``pages`` table (url, warc_ts, html, text, lang),
with two Python escape hatches in the extraction path, both Arrow-batched
mapInPandas stages: the split planner, and one fused stage that renders,
detects, clips text, orders by XY-cut and matches captions per page.
Everything else is native Spark SQL so Catalyst/Tungsten own the physical
plan.
"""

__version__ = "0.1.0"
