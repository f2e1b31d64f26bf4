"""Message counters as zero-cost observations on the stream.

Reference: KlioMessageCounter (helpers.py:36-88) and _KlioIOCounter
(io.py:93-145) — count-and-pass-through DoFns.

Spark-first: df.observe() attaches named aggregates evaluated during the
SAME job that materializes the DataFrame — no extra pass, no action. The
caller keeps the returned Observation handle and reads the count from it
after the action (the handle is the job's own, so two jobs counting under
the same suffix never see each other's numbers). In streaming, use
df.observe(name, ...) (string form) and a StreamingQueryListener instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def count_messages(df: DataFrame, suffix: str) -> tuple[DataFrame, Observation]:
    """Attach a `kmsg-{suffix}` counter (KlioMessageCounter naming,
    helpers.py:61) without forcing an action. Returns the observed frame
    and its Observation; after an action on the frame,
    ``obs.get["count"]`` is the message count."""
    obs = Observation(f"kmsg-{suffix}")
    return df.observe(obs, F.count(F.lit(1)).alias("count")), obs
