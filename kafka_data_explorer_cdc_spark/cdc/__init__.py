from .envelope import (
    ENVELOPE_SCHEMA,
    ORDERS_ROW_SCHEMA,
    flatten_after,
    parse_envelope,
    unwrap,
)
from .apply import latest_state

__all__ = [
    "ENVELOPE_SCHEMA",
    "ORDERS_ROW_SCHEMA",
    "flatten_after",
    "parse_envelope",
    "unwrap",
    "latest_state",
]
