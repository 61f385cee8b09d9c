"""``clear_pins``: a no-op kept for callers of the old pin registry.

No operator keeps a cached frame past its call. A frame that one call
reads more than once is ``localCheckpoint``ed inside that call, and a
returned frame may hold its own checkpoint; Spark frees the blocks once
the frame is unreachable. Nothing is shared between calls, so a result
depends only on the call's inputs, even after a file under the same path
is rewritten.
"""

from __future__ import annotations


def clear_pins() -> None:
    """Do nothing: there is no cross-call cache to clear. Kept so that
    benchmark and tool loops written against the old registry still run."""
