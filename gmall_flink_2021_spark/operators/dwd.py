"""DWD layer: raw log cleaning/splitting and CDC routing.

Reference parity:
 - P1 dirty-record side output: BaseLogApp.java:50-67 try-parses each
   JSON line and routes failures to OutputTag("dirty"). Spark form:
   from_json returns null on corrupt input; two filters derive the
   main and dirty streams from one scan (Catalyst collapses the
   shared subplan; in streaming both run from the same source).
 - P4 3-way log split: BaseLogApp.java:111-147 routes start-events to
   a side output, page-events to main, and explodes displays[] with
   page_id (exer also carries ts: gmall-realtime-exer/.../BaseLogApp.java:103-142
   — we implement that corrected form).
 - P2 CDC delete filter: BaseDBApp.java:57-64.
 - P3/J4 config-driven routing + projection: TableProcessFunction.java:124-172
   keyed by source_table-operate_type, projecting to sink_columns.
 - K4 dim upsert (Phoenix upsert → idempotent MERGE-by-pk):
   DimSinkFunction.java:28-69; here a parquet-backed merge in
   sinks.upsert_dim.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import PAGE_LOG_SCHEMA

# copy — StructType.add mutates in place
_PARSE_SCHEMA = StructType(
    list(PAGE_LOG_SCHEMA.fields)
    + [StructField("_corrupt_record", StringType())])


def parse_log(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse raw JSON log lines; adds a ``parsed`` struct column whose
    ``_corrupt_record`` field carries the raw line when parsing failed
    (from_json PERMISSIVE mode returns an all-null struct, not a null,
    so corruption must be captured explicitly)."""
    return raw.withColumn(
        "parsed",
        F.from_json(F.col(value_col), _PARSE_SCHEMA,
                    {"mode": "PERMISSIVE",
                     "columnNameOfCorruptRecord": "_corrupt_record"}))


def dirty_records(parsed: DataFrame, value_col: str = "value") -> DataFrame:
    """P1 side output: records that failed to parse."""
    return parsed.filter(
        F.col("parsed._corrupt_record").isNotNull()).select(value_col)


def split_log(parsed: DataFrame) -> dict[str, DataFrame]:
    """P4: clean log → {start, page, display} streams.

    display rows are exploded from displays[] and stamped with the
    page_id and ts of their parent event (the corrected exer
    semantics).
    """
    clean = (parsed.filter(F.col("parsed._corrupt_record").isNull())
             .select("parsed.*").drop("_corrupt_record"))
    start = clean.filter(F.col("start").isNotNull())
    page = clean.filter(F.col("start").isNull())
    display = (page
               .filter(F.size(F.col("displays")) > 0)
               .select("common",
                       F.col("page.page_id").alias("page_id"),
                       F.explode("displays").alias("display"),
                       "ts")
               .select("common", "page_id", "display.*", "ts"))
    return {"start": start, "page": page, "display": display}


def filter_deletes(cdc: DataFrame) -> DataFrame:
    """P2: drop CDC delete records (BaseDBApp.java:57-64)."""
    return cdc.filter(F.col("type") != "delete")


def route_cdc(cdc: DataFrame, config: DataFrame) -> DataFrame:
    """J4+P3: join the CDC stream with the broadcast table_process
    config on source_table-operate_type; unmatched rows are dropped
    (TableProcessFunction.java:145-148). Projection to sink_columns
    happens per-table in project_sink_columns (the data payload is
    schemaless JSON at this point).

    Output: original CDC fields + sink_table/sink_type/sink_pk/
    sink_columns routing columns — the Spark analog of the record
    tagged with its destination before the dynamic sink.
    """
    key = F.concat_ws("-", F.col("table"), F.col("type"))
    cfg_key = F.concat_ws("-", F.col("source_table"), F.col("operate_type"))
    cfg = config.select(cfg_key.alias("_k"), "sink_type", "sink_table",
                        "sink_columns", "sink_pk")
    return (cdc.withColumn("_k", key)
            .join(F.broadcast(cfg), "_k")
            .drop("_k"))


def project_sink_columns(routed: DataFrame, sink_table: str,
                         columns: list[str],
                         data_col: str = "data") -> DataFrame:
    """P3 for one routed table: parse the JSON payload and keep only
    the configured sink columns (TableProcessFunction.java:155-172)."""
    rows = routed.filter(F.col("sink_table") == sink_table)
    cols: list[Column] = [
        F.get_json_object(F.col(data_col), f"$.{c}").alias(c)
        for c in columns]
    return rows.select(*cols)


def sink_column_list(rows: DataFrame, sink_table: str,
                     sink_columns: str | None,
                     pk: str) -> list[str] | None:
    """The columns P3 projects for one dim spec's ``rows``: the
    configured comma list, or — for a spec with no list, whose records
    the reference keeps unfiltered (TableProcessFunction.java:62-68) —
    the key names found in the JSON payloads (a DataFrame-only
    json_object_keys scan, no .rdd hop). The dim merge needs ``pk``
    projected: a list that omits it gets it appended with a warning
    (the reference tolerates malformed table_process rows), and
    payloads that lack it return None with a warning, since merging
    on an all-null key would collapse the table."""
    if sink_columns:
        cols = [c.strip() for c in sink_columns.split(",")]
        if pk not in cols:
            warnings.warn(
                f"dim spec for {sink_table}: sink_pk '{pk}' missing "
                "from sink_columns; appending it",
                RuntimeWarning, stacklevel=2)
            cols.append(pk)
        return cols
    cols = sorted(r.k for r in rows.select(
        F.explode(F.json_object_keys("data")).alias("k"))
        .distinct().collect())
    if pk not in cols:
        warnings.warn(
            f"skipping dim spec for {sink_table}: sink_pk '{pk}' absent "
            "from the JSON payload", RuntimeWarning, stacklevel=2)
        return None
    return cols
