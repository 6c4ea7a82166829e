from spark_spotify.functions.checks import require
from spark_spotify.functions.time import (
    SQL_TIME_PERIOD,
    pg_dow,
    time_period,
)
from spark_spotify.functions.agg import (
    dec,
    dsum,
    lmoney,
    lscale,
    lsum,
    lsum_scaled,
    unscale,
)

__all__ = [
    "pg_dow",
    "time_period",
    "SQL_TIME_PERIOD",
    "dec",
    "dsum",
    "lscale",
    "lsum",
    "lsum_scaled",
    "lmoney",
    "unscale",
    "require",
]
