from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from streamprocessing_spark.session import get_spark

SMOKE_SF = "/root/testdata/sf0.001"

_deselected_slow: list[str] = []


def pytest_deselected(items):
    _deselected_slow.extend(i.nodeid for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter, config):
    """Say what the default fast tier left out (pytest.ini: -m "not slow")."""
    if _deselected_slow and config.getoption("markexpr"):
        terminalreporter.write_line(
            f"{len(_deselected_slow)} slow tests deselected by -m "
            f"{config.getoption('markexpr')!r}; "
            'run them with: python -m pytest tests/ -m "" -q'
        )


@pytest.fixture(scope="session")
def spark():
    from streamprocessing_spark.shared_views import release_shared_views

    s = get_spark("tests")
    yield s
    release_shared_views(s)  # a run leaves no ingest stores behind


@pytest.fixture(scope="session")
def sf_dir():
    return SMOKE_SF


def stage_single_file_chunks(df, base, n_chunks=2, key_col="event_id"):
    """Split df into n single-file parquet chunks under base/src so a file
    stream with maxFilesPerTrigger=1 yields one micro-batch per chunk.
    Shared by the sink tests (upsert, compaction)."""
    import os
    import shutil

    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    for i in range(n_chunks):
        d = f"{base}/chunk{i}"
        df.where((df[key_col] % n_chunks) == i).coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copyfile(f"{d}/{part}", f"{src}/c{i}.parquet")
    return src
