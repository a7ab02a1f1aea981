"""CDC layer: the reference-equivalent wal2json pipeline, Spark-first.

source (jsonl / stream) -> parse (variant) -> explode(change) ->
normalize (typed + lenient row maps) -> hypertable-name normalize
(literal map lookup) -> subscription routing (literal registry) ->
fan-out sink (streaming.fanout).
"""

from speculare_pgcdc_spark.cdc.pipeline import (  # noqa: F401
    CHANGE_COLUMNS,
    normalize_hypertables,
    parse_wal2json,
    route,
)
