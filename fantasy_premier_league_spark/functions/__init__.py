from fantasy_premier_league_spark.functions.scalars import (
    epoch_secs,
    epoch_us,
    fixed_units,
    md5_hash,
    md5_hash_sql,
    rounded,
    safe_div,
)
from fantasy_premier_league_spark.functions.tuning import (
    scoped_conf,
    sized_loop_partitions,
)

__all__ = [
    "epoch_secs",
    "epoch_us",
    "fixed_units",
    "md5_hash",
    "md5_hash_sql",
    "rounded",
    "safe_div",
    "scoped_conf",
    "sized_loop_partitions",
]
