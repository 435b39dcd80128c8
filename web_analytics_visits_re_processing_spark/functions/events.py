"""Event-code flag columns (reference ``main.py:24-42``).

The hit log's ``events`` column is a comma-separated list of numeric
event codes; a named flag is 1 iff its mapped code is an EXACT member
of the list (the reference iterates with ``==`` — code ``'1'`` must
NOT match ``'11'``/``'12'``, so no substring matching here).
``array_contains`` on the split list preserves that exactly, stays
inside whole-stage codegen, and vectorizes.

Flags are integers 0/1 rather than the reference's ``'0'``/``'1'``
strings — its own comment says they're 0/1 "so it can be summed up
later on" (``main.py:35``); ints make that sum native.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Output column → event code (main.py:26-34), in the order of the
# reference's hit output (main.py:68-73), which renames 'bag' to
# 'bag_view' (main.py:70). Its 'rfb' → '13' mapping is never emitted
# (SURVEY §1.2), so it has no column here.
FLAG_CODES: dict[str, str] = {
    "pdp_view": "2",
    "order": "1",
    "bag_view": "14",
    "atb": "12",
    "checkout": "11",
    "payment": "204",
}


def all_event_flags(events_list: Column) -> list[Column]:
    """The six flag columns of the reference's hit output: 1 iff the
    column's code is in ``events_list``."""
    return [
        F.array_contains(events_list, code).cast("int").alias(column)
        for column, code in FLAG_CODES.items()
    ]
