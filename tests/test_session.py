"""Session construction: env-derived settings reject bad values before
they reach derived thresholds."""

from __future__ import annotations

import pytest

from incubator_stormcrawler_spark import session


class _Stop(Exception):
    pass


@pytest.mark.parametrize("cpus", ["0", "-2", "*", "3"])
def test_core_count_is_clamped_before_shj_threshold(monkeypatch, cpus):
    seen = []

    def record(heap_bytes, cores):
        seen.append(cores)
        raise _Stop  # stop before a session is built

    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setattr(session, "shj_local_map_threshold", record)
    with pytest.raises(_Stop):
        session.get_spark("clamp")
    assert seen[0] >= 1
    if cpus == "3":
        assert seen == [3]
