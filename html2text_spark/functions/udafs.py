"""Grouped-aggregate pandas UDFs (the UDAF surface, completing the
UDF / UDTF / UDAF triad beside html_to_md and html_spans in this
package).

Robust dispersion statistics -- median and median absolute deviation --
are the classic justification for a custom aggregate: they are not
algebraic (no bounded partial state composes them), so Spark's built-in
path is percentile machinery, and a grouped-agg pandas UDF is the
idiomatic escape hatch.  ``PandasUDFType.GROUPED_AGG`` ships each
group's column to one worker as an Arrow batch and returns one scalar.

Determinism: inputs are exact integer cents; ``np.median`` is the
average of the two central order statistics -- a pure function of the
VALUE MULTISET, independent of row order, and identical to DuckDB's
``median``/``quantile_cont(0.5)`` on integers (halves are exact in
binary), so the result is oracle-exact.

Scale honesty: a grouped-agg UDF materializes the whole group on one
worker -- fine for |event-type|-sized groupings with bounded group
width, wrong for corpus-sized groups.  The scale path for exact
percentiles at 10^12 rows is textstats.group_percentiles_exact (the
bounded-memory histogram method); this module demonstrates the API
surface on the workload where it is appropriate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def _median_agg(v: pd.Series) -> float:
    return float(np.median(v))


@pandas_udf("double")
def _mad_agg(v: pd.Series) -> float:
    m = np.median(v)
    return float(np.median(np.abs(v - m)))


@pandas_udf("long")
def _n_agg(v: pd.Series) -> int:
    # Spark refuses to mix grouped-agg pandas UDFs with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so even
    # the row count must come from the pandas side here
    return int(len(v))


def robust_dispersion(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-group median and MAD of exact integer cents via grouped-agg
    pandas UDFs.  NULL values are excluded (SQL aggregate semantics)."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"), cents.alias("c")
    )
    return d.groupBy("grp").agg(
        _median_agg("c").alias("median_cents"),
        _mad_agg("c").alias("mad_cents"),
        _n_agg("c").alias("n"),
    )
