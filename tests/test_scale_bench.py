"""tools/scale_bench's shared pieces. The decade runner and the artifact
merge run without a Spark session: stub specs and a stub conf record
when each query runs, at which partition count, and when views are
released. The replica law runs on a tiny frame in the session."""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import scale_bench as SB  # noqa: E402

PARTS = "spark.sql.shuffle.partitions"


class _Conf:
    def __init__(self, events):
        self.events = events
        self.parts = "7"

    def get(self, key):
        assert key == PARTS
        return self.parts

    def set(self, key, value):
        assert key == PARTS
        self.parts = value
        self.events.append(("partitions", value))


def test_run_decades_warms_scales_partitions_and_releases_only_cold(monkeypatch):
    events: list[tuple] = []
    spark = SimpleNamespace(conf=_Conf(events))
    monkeypatch.setattr(SB, "all_specs", lambda: {n: SimpleNamespace(name=n) for n in ("c", "p")})
    monkeypatch.setattr(SB, "release_shared_views", lambda s: events.append(("release",)))
    secs = {"d1": 1.0, "d10": 10.0, "d100": 100.0}

    def time_query(spec, s, sf_dir):
        events.append(("run", spec.name, sf_dir, s.conf.parts))
        return secs[sf_dir], 3

    monkeypatch.setattr(SB, "time_query", time_query)
    rows = SB._run_decades(spark, ["c", "p"], ("d1", "d10", "d100"), cold=frozenset({"c"}))

    def timed(name, cold):
        rel = [("release",)] if cold else []
        return [
            ("run", name, "d1", "7"),  # warm at the first rung
            ("partitions", "32"), *rel, ("run", name, "d1", "32"),
            ("partitions", "64"), *rel, ("run", name, "d10", "64"),
            ("partitions", "256"), *rel, ("run", name, "d100", "256"),
            ("partitions", "7"), *rel,
        ]

    assert events == timed("c", True) + timed("p", False)
    assert spark.conf.parts == "7"
    assert list(rows) == ["c", "p"]
    assert rows["p"] == {
        "x1": {"sec": 1.0, "rows": 3},
        "x10": {"sec": 10.0, "rows": 3},
        "x100": {"sec": 100.0, "rows": 3},
        "fitted_exponent": 1.0,
    }


def test_merge_write_keeps_prior_rows_and_base(tmp_path, capsys):
    path = tmp_path / "SCALEBENCH100.json"
    path.write_text(json.dumps({
        "scales": [1, 10, 100], "base": "old", "queries": {"a": {"v": 1}, "b": {"v": 2}},
    }))
    SB._merge_write(path, {"scales": [1, 10, 100], "queries": {"b": {"v": 3}, "c": {"v": 4}}})
    got = json.loads(path.read_text())
    assert got == {
        "scales": [1, 10, 100],
        "base": "old",
        "queries": {"a": {"v": 1}, "b": {"v": 3}, "c": {"v": 4}},
    }
    assert json.loads(capsys.readouterr().out) == got
    # rows from another base would sit beside these under one base
    with pytest.raises(ValueError, match="base"):
        SB._merge_write(path, {"scales": [1, 10, 100], "base": "new", "queries": {}})
    assert json.loads(path.read_text()) == got


@pytest.mark.parametrize("mode, artifact, recorded", [
    ([], "SCALEBENCH", {"base_sf": 0.1, "proxy_sf": 1.0}),
    (["--graph100"], "SCALEBENCH100", {"scales": [1, 10, 100], "base": "/fixtures/sf0.1"}),
])
def test_main_refuses_another_base_before_any_timing(tmp_path, monkeypatch, mode, artifact,
                                                    recorded):
    path = tmp_path / f"{artifact}.json"
    prior = {**recorded, "queries": {"a": {"v": 1}}}
    path.write_text(json.dumps(prior))
    monkeypatch.setattr(SB, artifact, path)
    monkeypatch.setattr(SB, "get_spark", lambda name: pytest.fail("session started"))
    monkeypatch.setattr(sys, "argv", ["scale_bench.py", "--base", "/fixtures/sf0.01", *mode, "a"])
    with pytest.raises(ValueError, match="base"):
        SB.main()
    assert json.loads(path.read_text()) == prior


def test_ratio_rows_are_keyed_by_the_base_scale():
    assert SB._scale_factor("/fixtures/sf0.01/") == 0.01
    assert SB._ratio_row(0.01, 0.5, 10, 2.0, 100) == {
        "sf0.01_sec": 0.5, "sf0.1_sec": 2.0, "ratio": 4.0, "sf0.01_rows": 10, "sf0.1_rows": 100,
    }
    assert set(SB._ratio_row(0.1, 1.0, 1, 1.0, 1)) == {
        "sf0.1_sec", "sf1.0_sec", "ratio", "sf0.1_rows", "sf1.0_rows",
    }


def test_sign_flip_replicas_keep_copy_zero_disjoint_ids_and_magnitudes(spark):
    vecs = [[0.5, -1.25, 3.0, 0.1], [2.0, 0.0, -0.75, 7.5], [-4.0, 1.0, 0.3, -0.2]]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    base = {r.vec_id: r.embedding for r in df.collect()}
    out = SB._replicas(df, 3, {"vec_id": 3}, SB._sign_flip("t", 4)).collect()
    assert len(out) == 9
    assert len({r.vec_id for r in out}) == 9
    assert {r.vec_id: r.embedding for r in out if r.vec_id < 3} == base
    for r in out:
        assert [abs(x) for x in r.embedding] == [abs(x) for x in base[r.vec_id % 3]]
