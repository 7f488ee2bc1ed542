"""Missing-value imputation: per-group exact-median fill with a global
fallback — the standard "repair the feature column before training /
aggregation" step of a data-quality pipeline (reference has no analog;
charter data-quality family, sibling of constraints/drift).

Scale shape:

* the per-group medians are ONE map-side-combined aggregate over the
  observed rows (``percentile`` keeps a per-group counter map; group
  cardinality = number of keys, orders of magnitude below row count);
* the medians table re-joins on the group key — broadcast when the key
  space is driver-small (users, domains), an ordinary keyed shuffle
  otherwise;
* the global fallback is a 1-row aggregate cross-joined as a broadcast
  literal — it fills groups with ZERO observed rows, which a left join
  surfaces as NULL group medians.

Exactness: ``percentile`` (Spark) and ``quantile_cont`` (DuckDB) share the
same continuous-interpolation definition, proven value-identical by the
a13 gate row; imputed values therefore hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.functions.sqltext import ident


def impute_group_median(
    df: DataFrame,
    key_col: str,
    value_col: str,
    is_missing: Column,
    id_cols: tuple[str, ...] = (),
    broadcast_groups: bool = True,
) -> DataFrame:
    """(id_cols…, key, is_missing, value_raw, value_imputed): rows where
    ``is_missing`` holds get the median of the group's OBSERVED values,
    falling back to the global observed median for all-missing groups.
    Rows that are neither missing nor NULL pass through unchanged; a NULL
    value on a non-missing row stays NULL (it was not declared missing).
    """
    observed = df.filter(~is_missing & F.col(value_col).isNotNull())
    median = f"percentile({ident(value_col)}, 0.5)"
    grp = observed.groupBy(key_col).agg(F.expr(median).alias("_grp_med"))
    glob = observed.agg(F.expr(median).alias("_glob_med"))
    if broadcast_groups:
        grp = F.broadcast(grp)
    imputed = F.when(
        is_missing, F.coalesce(F.col("_grp_med"), F.col("_glob_med"))
    ).otherwise(F.col(value_col))
    return (
        df.join(grp, key_col, "left")
        .crossJoin(F.broadcast(glob))
        .select(
            *id_cols,
            key_col,
            is_missing.alias("is_missing"),
            F.round(F.col(value_col), 6).alias("value_raw"),
            F.round(imputed, 6).alias("value_imputed"),
        )
    )
