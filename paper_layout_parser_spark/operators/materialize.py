"""Durable-or-local materialization of intermediates that are read twice.

Several operators must materialize a mid-plan table so two consumers read
the SAME data instead of recomputing the upstream (LSH signature/shingle
tables, the bucketed interval join, id-tagged point frames whose
``monotonically_increasing_id`` must not be re-evaluated). The sandbox
fast path is ``localCheckpoint`` — but local-checkpoint blocks are
NON-REPLICATED: on a real cluster an executor loss makes the frame
unrecoverable mid-job. Every such operator therefore takes a
``checkpoint=`` option routed through this helper:

  * ``None`` (default)      — localCheckpoint (single-process / sandbox).
  * a ``sources.catalog.Catalog`` — write the intermediate through the
    catalog (Iceberg table / parquet dir: committed files, replayable
    after any loss) and read it back. Results are identical by contract
    (pytest runs minhash_lsh_pairs, interval_join(how='left') and
    curate_documents both ways and compares); only durability and
    storage change.

Catalog-materialized stage tables are named ``__mat_<name>_<uuid>`` —
unique per call so concurrent jobs never collide. They are scratch space:
a deployment GCs ``__mat_*`` tables after the job (they are not part of
any resumable stage contract, unlike checkpoint_stage tables).
"""

from __future__ import annotations

import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from ..sources.catalog import Catalog


def materialize(df: DataFrame, checkpoint: "Catalog | None" = None,
                name: str = "stage", eager: bool = False) -> DataFrame:
    """Materialize ``df`` so downstream consumers re-read rather than
    recompute it. ``eager`` forces the job to run NOW (needed when the
    frame contains nondeterministic ids that two consumer stages could
    otherwise race to re-evaluate); a catalog write is always eager."""
    if checkpoint is None:
        return df.localCheckpoint(eager=eager)
    table = f"__mat_{name}_{uuid.uuid4().hex[:12]}"
    checkpoint.append(df, table)
    return checkpoint.read(table)
