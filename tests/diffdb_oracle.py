"""The declarative diffdb reference the tests hold the in-scan pairing
and diff against: window-lag pairing (``operators/pairing.py``) plus an
Arrow diff UDF over the base revision columns."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikihadoop_spark.functions.diffs import token_diff
from wikihadoop_spark.operators.pairing import pair_with_previous
from wikihadoop_spark.sources.wikidump import BASE_SCHEMA_DDL

BASE_COLUMNS = [c.split()[0] for c in BASE_SCHEMA_DDL.split(", ")]


def diff_ops_udf():
    """Arrow-vectorized pandas UDF: (prev_text, text) ->
    array<struct<position:bigint, action:int, content:string>>."""
    import pandas as pd

    def _diff(prev, curr):
        return pd.Series(
            [
                list(token_diff(p or "", c or ""))
                for p, c in zip(prev.tolist(), curr.tolist())
            ]
        )

    # real class objects (PEP-563 string hints break pandas-UDF
    # signature inference under `from __future__ import annotations`)
    _diff.__annotations__ = {"prev": pd.Series, "curr": pd.Series, "return": pd.Series}
    return F.pandas_udf(
        _diff, "array<struct<position:bigint, action:int, content:string>>"
    )


def with_window_ops(revisions: DataFrame) -> DataFrame:
    """The base revision columns of ``revisions``, paired by a window
    ``lag`` per page and diffed by the UDF: the frame ``build_diffdb``
    takes, computed without the scan's pairing."""
    paired = pair_with_previous(
        revisions.select(*BASE_COLUMNS),
        partition_by=["page_id"],
        order_by=["rev_seq"],
        cols=["text", "rev_id"],
        fill={"text": ""},
        first_flag="beginningofpage",
    )
    return paired.withColumn(
        "ops", diff_ops_udf()(F.col("prev_text"), F.col("text"))
    )
