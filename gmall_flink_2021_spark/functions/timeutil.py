"""Event-time helpers.

The reference stamps every windowed row with window start/end as
'yyyy-MM-dd HH:mm:ss' strings (stt/edt) plus a processing-time ts
(gmall-realtime/.../app/dws/ProductStatsApp.java:249-262,
VisitorStatsApp.java:167-180). Here the window struct produced by
``F.window`` is projected to stt/edt timestamps; the processing-time
stamp is injectable for deterministic tests (SURVEY.md §2.8 F5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def window_stamps(window_col: str = "window") -> list[Column]:
    """Project a grouped ``window`` struct into stt/edt timestamps."""
    return [
        F.col(f"{window_col}.start").alias("stt"),
        F.col(f"{window_col}.end").alias("edt"),
    ]


def dated(df: DataFrame, col: str = "ts") -> DataFrame:
    """Event-time domain gate for ORDER-DEPENDENT operators: drop
    undated rows (NULL event time).

    Dirty 100-TB feeds contain NULL-ts events.  Date-GROUPING
    operators keep them as a visible NULL-date group (standard SQL,
    same as NULL group keys elsewhere), but operators whose semantics
    depend on a row's POSITION in time — sessionization, lag/lead
    transitions, bounce detection, trailing-window scoring — have no
    coherent place for an undated event, and engine default NULL
    orderings differ (Spark windows sort NULLS FIRST ascending,
    DuckDB NULLS LAST), so leaving them in makes results
    engine-defined.  Mirrored as ``ts IS NOT NULL`` in each such
    operator's oracle.  Expression-level filter, pushes to the scan."""
    return df.filter(F.col(col).isNotNull())
