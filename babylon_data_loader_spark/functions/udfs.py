"""The UDF / UDTF surface — escape hatches for semantics built-ins
can't express, all Arrow-batched (never row-at-a-time Python in a hot
path):

- :class:`NGrams` — Python UDTF (Spark 4): one row in, n rows out,
  with lateral-join composition.

Prefer built-ins first (see queries/ — 181 declared queries, almost all pure built-ins);
these exist for the cases that genuinely need custom logic and as the
pattern reference for plugging in tokenizers/models later.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType


# Module-level UDF return types are DataTypes, not DDL strings: the
# decorators parse DDL through the JVM, so the module would need an
# active session to import.
@udtf(
    returnType=StructType(
        [StructField("pos", IntegerType()), StructField("gram", StringType())]
    )
)
class NGrams:
    """UDTF: emit word n-grams of a text with positions.

    Usage:
        from pyspark.sql.functions import lit
        NGrams(lit("a b c"), lit(2))          # table-function form
        spark.udtf.register("ngrams", NGrams) # SQL: LATERAL ngrams(...)
    """

    def eval(self, text: str, n: int):  # noqa: D102
        if text is None or n is None or n <= 0:
            return
        tokens = text.split()
        for i in range(len(tokens) - n + 1):
            yield i, " ".join(tokens[i : i + n])


def robust_zscore(df, key_col: str = "user_id", value_col: str = "value"):
    """Per-group robust z-score ((x − median) / MAD) via grouped-map
    `applyInPandas` — the UDF flavor where each GROUP arrives as one
    pandas frame. Median/MAD are order STATISTICS, not accumulations,
    so the result is bit-exact across engines (no float-sum order
    dependence) and the declared query carries a full DuckDB oracle —
    rare for a pandas-UDF path.

    Scale note: a group must fit in one worker's memory; keys here are
    users (thousands of rows each). For giant groups, pre-aggregate
    the two statistics with exact percentile instead.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    schema = f"{key_col} bigint, event_id bigint, z double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].to_numpy(dtype="float64")
        med = float(np.median(v))
        mad = float(np.median(np.abs(v - med)))
        z = (v - med) / mad if mad > 0 else np.zeros_like(v)
        # NO np.round here: numpy rounds half-EVEN while Spark/DuckDB
        # round() are half-away — an exactly-representable half at the
        # 9th decimal flips the last digit between engines (hit at
        # sf0.1). Rounding happens JVM-side below.
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                "event_id": pdf["event_id"],
                "z": z,
            }
        )

    out = df.select(key_col, "event_id", value_col).groupBy(
        key_col
    ).applyInPandas(normalize, schema)
    return out.withColumn("z", F.round("z", 9))


@pandas_udf(StringType())
def nfc_casefold(s: pd.Series) -> pd.Series:
    """Unicode NFC + casefold + whitespace collapse — the
    normalization pass a corpus runs BEFORE dedup (CCNet/Dolma
    recipe): precomposed 'é' (U+00E9) and decomposed 'e'+U+0301 are
    DIFFERENT byte strings that render identically, so un-normalized
    exact dedup misses real duplicates. Spark has no built-in NFC, so
    this is an Arrow-batched pandas UDF (unicodedata is C-accelerated;
    the batch transfer, not the normalization, is the cost) — one of
    the few places Python in the hot path is the honest answer.
    Matches DuckDB regexp_replace(trim(lower(nfc_normalize(x))),
    '\\s+', ' ', 'g') for casefold-trivial text."""
    import re as _re
    import unicodedata

    ws = _re.compile(r"\s+")
    return s.map(
        lambda x: None
        if x is None
        else ws.sub(" ", unicodedata.normalize("NFC", x).casefold()).strip()
    )
