from .neardup import streaming_lsh_neardup  # noqa: F401
from .spatial_stream import (  # noqa: F401
    streaming_exact_dedup,
    streaming_url_dedup,
    streaming_tile_counts,
    streaming_trajectory_sessions,
    streaming_trajectory_state,
)
