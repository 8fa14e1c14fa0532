"""``window`` — open loop into a stateful query.

The ``ingest`` generator, rate and trigger, with the query's output
replaced: the topic feeds a watermarked 1-minute tumbling-window count
and value sum per ``event_type``, kept in the state store and written in
complete mode to a memory sink. It loads the producer, the reader at the
head of the log and the state store, and bypasses the bus sink writer,
which ``ingest`` loads. The final window totals are checked against
totals computed in Python from the published events.
"""

from __future__ import annotations

import ingest


def run(ctx):
    return ingest.open_loop(ctx, stateful=True)
