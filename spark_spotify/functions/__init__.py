from spark_spotify.functions.checks import require
from spark_spotify.functions.time import (
    SQL_TIME_PERIOD,
    pg_dow,
    time_period,
)
from spark_spotify.functions.agg import (
    dec,
    dsum,
    dsum6,
    lmoney,
    lscale,
    lsum,
    lsum_scaled,
    money_expr,
    unscale,
)

__all__ = [
    "pg_dow",
    "time_period",
    "SQL_TIME_PERIOD",
    "dec",
    "dsum",
    "dsum6",
    "money_expr",
    "lscale",
    "lsum",
    "lsum_scaled",
    "lmoney",
    "unscale",
    "require",
]
