"""Engine-independent row multisets, for comparing results exactly."""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal


def canon(v):
    """Engine-independent form of one result cell."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (list, tuple, dict)):
        v = v.tolist()
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(v[k])) for k in sorted(v))
    return f"s:{v}"


def pandas_rows(pdf) -> tuple[list[str], Counter]:
    """Sorted column names and the multiset of rows of a pandas frame."""
    cols = sorted(pdf.columns)
    return cols, Counter(tuple(canon(v) for v in row)
                         for row in pdf[cols].itertuples(index=False, name=None))


def spark_rows(df) -> tuple[list[str], Counter]:
    """Sorted column names and the multiset of rows of a Spark frame
    (collected: for results of a few thousand rows)."""
    cols = sorted(df.columns)
    return cols, Counter(tuple(canon(r[c]) for c in cols)
                         for r in (row.asDict(recursive=True)
                                   for row in df.select(*cols).collect()))
