from .changefeed import stream_edges, stream_vertices, stream_type_counts
from .dedup import stream_dedup_exact
from .microbatch import drive, stage_batches

__all__ = [
    "drive",
    "stage_batches",
    "stream_dedup_exact",
    "stream_edges",
    "stream_vertices",
    "stream_type_counts",
]
