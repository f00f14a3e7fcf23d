"""The materialized-index queries' scratch directories: one per live
process, and none left behind by processes that have exited."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile


def test_index_path_prunes_copies_of_dead_processes(tmp_path, monkeypatch):
    import __spark_entry__ as entrymod

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    exited = subprocess.Popen([sys.executable, "-c", "pass"])
    exited.wait()
    stale = tmp_path / f"riptide_lsh_index_sf0.001_p{exited.pid}"
    (stale / "idx").mkdir(parents=True)
    live = tmp_path / f"riptide_ivf_index_sf0.001_p{os.getppid()}"
    live.mkdir()
    unrelated = tmp_path / "riptide_lsh_index_notes"
    unrelated.mkdir()

    path = entrymod._index_path("lsh", "/data/sf0.001/")

    assert path == str(tmp_path / f"riptide_lsh_index_sf0.001_p{os.getpid()}" / "idx")
    assert not stale.exists()
    assert live.exists()
    assert unrelated.exists()
