from .lww import fold_last_writer_wins_agg, fold_last_writer_wins_arrow  # noqa: F401
from .temporal import (  # noqa: F401
    asof_join,
    point_in_time_join,
    range_join,
)
