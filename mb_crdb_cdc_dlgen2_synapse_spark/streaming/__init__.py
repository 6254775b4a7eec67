from .ingest import (
    changefeed_stream,
    dedup_stream,
    materialize_latest_state,
    read_latest_state,
    stream_to_lake,
)
from .source import TxStreamDataSource, TxStreamSinkWriter, register_tx_source
from .windows import sliding_counts, tumbling_revenue, session_windows

__all__ = [
    "changefeed_stream",
    "dedup_stream",
    "materialize_latest_state",
    "read_latest_state",
    "stream_to_lake",
    "TxStreamDataSource",
    "TxStreamSinkWriter",
    "register_tx_source",
    "sliding_counts",
    "tumbling_revenue",
    "session_windows",
]
