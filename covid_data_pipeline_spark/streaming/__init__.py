"""Structured Streaming surface (SURVEY.md §2.9).

``transforms`` holds the shared event-time logic — each transformation is
written once against a DataFrame and works unchanged on a batch scan or
a ``readStream`` source, which is what makes the batch twins in
``queries/streaming_batch.py`` faithful oracles for the streaming path.
``runner`` executes true streams: ``drain`` is the one availableNow run
(memory, parquet or foreachBatch sink; scratch checkpoint unless a
resumed run brings its own) and returns the terminated query;
``run_available_now`` returns a drain's sink as a batch DataFrame, and
``take_memory_sink`` reads a memory sink and drops its temp view.
"""

from .runner import (  # noqa: F401
    drain,
    pin_feed_mtimes,
    read_documents_stream,
    read_events_stream,
    read_feed,
    run_available_now,
    scratch_dir,
    take_memory_sink,
)
from . import transforms  # noqa: F401
