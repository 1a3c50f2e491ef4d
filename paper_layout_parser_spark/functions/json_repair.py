"""LLM-output JSON repair (SURVEY P11 —
benchmarks/vlm_annotator/base.py:221-234).

The reference receives VLM responses that may be wrapped in markdown code
fences, carry leading/trailing prose, or contain trailing commas. Its repair
chain is: strip code fences -> slice the outermost {...} -> drop trailing
commas -> json.loads. Re-expressed as native column expressions (parse the
result with ``from_json``) — no Python in the hot path; every step has an
exact DuckDB twin used by the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# shared regexes. Dialect-neutral requires spelling whitespace out:
# Java's \s includes \x0B, RE2's (DuckDB) does not — a bare \s here
# would let `,\x0B}` repair differently in the engine and its oracle.
FENCE_RE = r"```[a-zA-Z]*"
TRAILING_COMMA_RE = r",[ \t\n\x0B\f\r]*([}\]])"


def repair_json(raw: Column) -> Column:
    """Strip code fences, slice outermost {...}, drop trailing commas
    (base.py:221-234)."""
    no_fence = F.regexp_replace(raw, FENCE_RE, "")
    start = F.instr(no_fence, "{")
    # last '}' via reversed search: length - instr(reverse, '}') + 1
    end = F.length(no_fence) - F.instr(F.reverse(no_fence), "}") + 1
    sliced = F.when(
        (start > 0) & (end >= start),
        F.substring(no_fence, start, end - start + 1),
    ).otherwise(no_fence)
    return F.regexp_replace(sliced, TRAILING_COMMA_RE, "$1")


def repair_json_sql(expr: str) -> str:
    """DuckDB twin of repair_json (regexp_replace needs the 'g' flag; the
    backreference is \\1 in DuckDB's RE2 syntax)."""
    no_fence = f"regexp_replace({expr}, '{FENCE_RE}', '', 'g')"
    start = f"strpos({no_fence}, '{{')"
    end = f"(length({no_fence}) - strpos(reverse({no_fence}), '}}') + 1)"
    sliced = (f"(CASE WHEN {start} > 0 AND {end} >= {start} "
              f"THEN substring({no_fence}, {start}, {end} - {start} + 1) "
              f"ELSE {no_fence} END)")
    return (f"regexp_replace({sliced}, '{TRAILING_COMMA_RE}', "
            f"'\\1', 'g')")

