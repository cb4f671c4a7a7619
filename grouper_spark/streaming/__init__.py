from .grouper import Grouper, Request, shutdown, start, submit
from .stream import (
    append_stream_file,
    drain,
    grouper_process_stream,
    replay,
    stage_stream_source,
    stateful_extrema,
    stateful_running_sum,
    stateful_sessionize,
)

__all__ = [
    "Grouper",
    "Request",
    "start",
    "submit",
    "shutdown",
    "grouper_process_stream",
    "append_stream_file",
    "drain",
    "replay",
    "stage_stream_source",
    "stateful_extrema",
    "stateful_running_sum",
    "stateful_sessionize",
]
