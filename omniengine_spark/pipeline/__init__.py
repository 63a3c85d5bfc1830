"""The omni block-sync pipeline (SURVEY §3.1) as bronze→silver→gold
DataFrame stages."""

from omniengine_spark.pipeline.omni import (
    BTC_TX_SCHEMA,
    RAW_TX_SCHEMA,
    build_balances,
    build_full_balances,
    expand_btc_deltas,
    expand_deltas,
    genesis_deltas,
    stamp_serials_distributed,
    with_after_balances,
)

__all__ = [
    "BTC_TX_SCHEMA",
    "RAW_TX_SCHEMA",
    "build_balances",
    "build_full_balances",
    "expand_btc_deltas",
    "expand_deltas",
    "genesis_deltas",
    "stamp_serials_distributed",
    "with_after_balances",
]
