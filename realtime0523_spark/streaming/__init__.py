from realtime0523_spark.streaming.sources import stream_table, cdc_json_stream, CDC_ENVELOPE
from realtime0523_spark.streaming.runner import run_to_memory
from realtime0523_spark.streaming.router import route_cdc
from realtime0523_spark.streaming.dau import streaming_dau
from realtime0523_spark.streaming.order_wide import streaming_order_wide
from realtime0523_spark.streaming.first_seen import streaming_first_seen
from realtime0523_spark.streaming.sinks import idempotent_batch_writer

__all__ = [
    "stream_table",
    "cdc_json_stream",
    "CDC_ENVELOPE",
    "run_to_memory",
    "route_cdc",
    "streaming_dau",
    "streaming_order_wide",
    "streaming_first_seen",
    "idempotent_batch_writer",
]
