"""bench.py's steal diagnostics: an unreadable /proc/stat reads as
None, never as a number that would leak into a per-trial delta."""

from __future__ import annotations

import bench


def test_steal_jiffies_none_when_unreadable(monkeypatch):
    def unreadable(*_a, **_k):
        raise OSError("no /proc/stat")

    monkeypatch.setattr("builtins.open", unreadable)
    assert bench._steal_jiffies() is None


def test_steal_jiffies_reads_a_count():
    v = bench._steal_jiffies()
    assert v is None or (isinstance(v, int) and v >= 0)
