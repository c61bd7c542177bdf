"""A GroupState stand-in for driving applyInPandasWithState functions
directly, without a streaming query."""

from __future__ import annotations


class FakeState:
    """Minimal GroupState: a value, existence, the timed-out flag, a
    fixed watermark and the last timeout asked for."""

    def __init__(self, watermark_ms: int = 0):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self._watermark_ms = watermark_ms
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def getCurrentWatermarkMs(self):
        return self._watermark_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ms = ts
