"""Classifier-confidence coercion (reference extractContent.py:426-433):
float(x) else 0.0, NaN -> 0.0, clamp to [0,1]. The extraction operator
applies the same clamp, plus the 0.5 floor for empty_content /
wrong_content (ref :453-454), inside its Arrow pass."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def coerce_confidence(col: Column) -> Column:
    c = col.try_cast("double")
    c = F.coalesce(F.when(F.isnan(c), F.lit(0.0)).otherwise(c), F.lit(0.0))
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
