"""Query inventory package — importing this module populates the registry."""

from .registry import REGISTRY, Query, oracles, queries, query  # noqa: F401

# Each module registers its queries at import time, so REGISTRY is in
# import order; __spark_entry__.driver_order decides what the driver
# checks first.
from . import kql_q  # noqa: F401
from . import llm  # noqa: F401
from . import streaming_q  # noqa: F401
from . import reference  # noqa: F401
from . import relational  # noqa: F401

__all__ = ["REGISTRY", "Query", "queries", "oracles", "query"]
