"""Delta Lake MERGE sink (optional; import-gated — delta-spark is not in
this container).

The reference's MERGE (``get_incremental_scd2_sql.sql:238-268``) maps 1:1
onto Delta's three-clause merge; this module implements that mapping so a
Delta-enabled deployment gets true in-place merge (file-level rewrite ∝
matched files + ``incremental_predicates`` file pruning) instead of the
vanilla sink's window chain and full overwrite (``operators/scd2.py``).

TESTING STATUS: the clause construction (:func:`build_merge_clauses`) is
unit-tested without delta-spark; the :func:`scd2_delta_merge` execute path
is UNTESTED — delta-spark is not installed in the build container (and the
environment forbids installing packages), so ``merge.execute()`` has never
run here.  A Delta-enabled deployment should validate it once against
``operators.scd2.scd2_incremental`` output (the clause mapping says they
must be row-identical).

The merge SOURCE is ``build_scd2_merge_source``'s DataFrame, the CTE chain
the parquet sinks' window chain computes in place; the tests pin the two
row-identical through ``operators.scd2._merge_via_source``, that source
joined back the way this MERGE applies it — only the sink differs, which
is exactly the "keep the sink behind an interface" decision of SURVEY.md
§7.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import surrogate_key
from ..operators.scd2 import KEY_COL, OP_COL, build_scd2_merge_source
from ..plans.config import ScdConfig

try:  # pragma: no cover - delta not installed in the build container
    from delta.tables import DeltaTable

    HAS_DELTA = True
except ImportError:
    DeltaTable = None
    HAS_DELTA = False


def build_merge_clauses(cfg: ScdConfig, business_cols: list[str]) -> dict:
    """Pure clause construction for the three-way Delta MERGE — separated
    from the DeltaTable calls so the mapping is testable without
    delta-spark installed.

    Clause mapping (≡ get_incremental_scd2_sql.sql:238-268):
      ON    md5(dest scd2_unique_key cols) == src._scd2_key [AND predicates]
      WHEN MATCHED AND src._scd2_op = 'delete'  → DELETE
      WHEN MATCHED AND src._scd2_op = 'upsert'  → UPDATE SET merge_update_cols
      WHEN NOT MATCHED AND src._scd2_op = 'upsert' → INSERT all columns
    """
    all_cols = list(business_cols) + list(cfg.audit_columns)
    return {
        # ON as SQL text (the d-side surrogate key mirrors functions.hashing
        # .surrogate_key; predicates AND-ed in → Delta file pruning,
        # get_incremental_scd2_sql.sql:247-255).
        "on_predicates": list(cfg.incremental_predicates),
        "matched_delete_condition": (
            f"s.{OP_COL} = 'delete'" if cfg.effective_collapse else None
        ),
        "matched_update_condition": f"s.{OP_COL} = 'upsert'",
        "update_set": {c: f"s.{c}" for c in cfg.merge_update_cols},
        "insert_condition": f"s.{OP_COL} = 'upsert'",
        "insert_values": {c: f"s.{c}" for c in all_cols},
    }


def scd2_delta_merge(
    spark: SparkSession,
    target_table: str,
    batch: DataFrame,
    cfg: ScdConfig,
) -> None:
    """Apply one incremental SCD2 batch to a Delta table in place (see
    :func:`build_merge_clauses` for the clause mapping)."""
    if not HAS_DELTA:
        raise ImportError(
            "delta-spark is not installed; use operators.scd2.scd2_incremental "
            "(join-and-overwrite) or plans.build.ScdTable instead."
        )
    target_df = spark.table(target_table)
    source, _prev, business_cols = build_scd2_merge_source(target_df, batch, cfg)
    clauses = build_merge_clauses(cfg, business_cols)

    from pyspark.sql import functions as F

    dt = DeltaTable.forName(spark, target_table)
    dest_key = surrogate_key([f"d.{c}" for c in cfg.scd2_unique_key])
    cond = dest_key == source[KEY_COL]
    for pred in clauses["on_predicates"]:
        cond = cond & F.expr(pred)

    merge = dt.alias("d").merge(source.alias("s"), cond)
    if clauses["matched_delete_condition"] is not None:
        merge = merge.whenMatchedDelete(
            condition=clauses["matched_delete_condition"]
        )
    merge = merge.whenMatchedUpdate(
        condition=clauses["matched_update_condition"],
        set=clauses["update_set"],
    ).whenNotMatchedInsert(
        condition=clauses["insert_condition"],
        values=clauses["insert_values"],
    )
    merge.execute()
