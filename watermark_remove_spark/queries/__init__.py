"""Operator/query catalog (SURVEY.md §2) with DuckDB oracle
mirrors — split into contiguous block modules (round-4 verdict
#2: the former 43k-line queries.py) behind this unchanged public
surface: every query function, oracle string and helper is
re-exported here, and QUERIES/ORACLES are derived from the blocks
in the correctness harness's check order (see _registry)."""
from .block_q447_q464 import *  # noqa: F401,F403
from ._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    _registry_order,
)
