"""bench.timed_passes without a Spark session: stub specs record when each
query runs, stubbed release hooks record when views and caches are freed."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import bench


class _NoopWrite:
    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        pass


@pytest.fixture
def passes(monkeypatch):
    events: list[tuple[str, ...]] = []
    monkeypatch.setattr(bench, "release_shared_views", lambda spark: events.append(("views",)))
    monkeypatch.setattr(bench, "release_plugin_caches", lambda: events.append(("caches",)))
    monkeypatch.setattr(bench, "_reclaim_dead_blocks", lambda spark: None)

    def spec(name):
        def fn(spark, sf_dir):
            events.append(("query", name))
            return SimpleNamespace(write=_NoopWrite())

        return SimpleNamespace(fn=fn)

    names = ["builder", "consumer", "other"]
    specs = {n: spec(n) for n in names}
    raw = bench.timed_passes(object(), specs, names, "sf", 3)
    return events, names, raw


def test_each_pass_releases_shared_views_once_before_its_first_query(passes):
    events, names, _ = passes
    view_releases = [i for i, e in enumerate(events) if e == ("views",)]
    assert len(view_releases) == 3
    for i in view_releases:
        assert events[i + 1] == ("caches",)
        assert events[i + 2] == ("query", names[0])


def test_plugin_caches_released_before_every_cell(passes):
    events, _, _ = passes
    for i, e in enumerate(events):
        if e[0] == "query":
            assert events[i - 1] == ("caches",)
    assert events.count(("caches",)) == sum(1 for e in events if e[0] == "query")


def test_compiles_gets_each_cells_codegen_delta_in_pass_order(monkeypatch, passes):
    _, names, _ = passes
    counter = iter(range(0, 1000, 5))
    monkeypatch.setattr(bench, "codegen_compilations", lambda spark: next(counter))
    noop = SimpleNamespace(fn=lambda spark, sf_dir: SimpleNamespace(write=_NoopWrite()))
    compiles: dict[str, list[int]] = {}
    bench.timed_passes(object(), dict.fromkeys(names, noop), names, "sf", 2, compiles)
    assert compiles == {n: [5, 5] for n in names}


def test_each_name_gets_reps_samples_in_headline_order_per_pass(passes):
    events, names, raw = passes
    assert list(raw) == names
    assert all(len(raw[n]) == 3 and all(t >= 0 for t in raw[n]) for n in names)
    ran = [e[1] for e in events if e[0] == "query"]
    assert ran == names * 3
