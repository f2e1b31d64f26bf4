"""KlioContext: config + logger available inside driver code and
executor-side UDFs.

Mirrors lib/src/klio/transforms/core.py:29-164 (KlioContext built from the
main-session RunConfig, with a lazy logger). On Spark the config rides
to executors by closure capture (it's a small dataclass — cheaper and more
robust than a broadcast for <1 MB configs). Metrics are not kept here:
counts ride DataFrame ``observe()`` (operators/counters.count_messages)
and are read from the returned Observation after the action.
"""

from __future__ import annotations

import logging
import threading

from klio_spark.config import KlioJobConfig

_LOCK = threading.Lock()
_CURRENT: "KlioContext | None" = None


class KlioContext:
    """Singleton-ish context: `KlioContext.current()` anywhere, including
    inside pandas_udf bodies (re-created lazily on executors)."""

    def __init__(self, config: KlioJobConfig | None = None) -> None:
        self.config = config or KlioJobConfig()
        self.logger = logging.getLogger(f"klio_spark.{self.config.job_name}")

    @property
    def job(self) -> tuple[str, str]:
        return (self.config.job_name, self.config.project)

    @classmethod
    def current(cls) -> "KlioContext":
        global _CURRENT
        with _LOCK:
            if _CURRENT is None:
                _CURRENT = cls()
            return _CURRENT

    @classmethod
    def set_current(cls, ctx: "KlioContext") -> None:
        global _CURRENT
        with _LOCK:
            _CURRENT = ctx
