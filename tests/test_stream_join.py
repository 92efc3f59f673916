"""J1 as a watermarked stream-stream interval join must produce the
same rows as the batch interval join (FlinkSQLJoinTest / O8 analog:
the range condition is what lets Spark evict join state)."""

import json

from gmall_flink_2021_spark.operators import dwd, gmall_dwm
from gmall_flink_2021_spark.schemas import CDC_SCHEMA, TABLE_PROCESS_SCHEMA
from gmall_flink_2021_spark.sources import gmall_fixtures as fx

from .stream_helpers import run_to_completion


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    cdc = spark.createDataFrame(fx.cdc_rows(), CDC_SCHEMA)
    cfg = spark.createDataFrame(fx.table_process_rows(),
                                TABLE_PROCESS_SCHEMA)
    routed = dwd.route_cdc(dwd.filter_deletes(cdc), cfg)
    oi_b = gmall_dwm.parse_fact(routed, "order_info")
    od_b = gmall_dwm.parse_fact(routed, "order_detail")
    batch = gmall_dwm.order_wide_join(oi_b, od_b)
    want = {(r.order_id, r.detail_id) for r in batch.collect()}

    oi_dir, od_dir = str(tmp_path / "oi"), str(tmp_path / "od")
    oi_b.write.parquet(oi_dir)
    od_b.write.parquet(od_dir)
    oi_s = spark.readStream.schema(oi_b.schema).parquet(oi_dir)
    od_s = spark.readStream.schema(od_b.schema).parquet(od_dir)
    joined = gmall_dwm.order_wide_join(oi_s, od_s, streaming=True)
    out = run_to_completion(joined, str(tmp_path / "ckpt"))
    got = {(r.order_id, r.detail_id) for r in out.collect()}
    assert got == want and len(want) == 15