"""fsutil.rename_overwrite picks its local fast path by the FileSystem
the path resolves to, not by what happens to exist on the driver's
disk."""

from __future__ import annotations

import os

from search_engine_spark import fsutil


def _spy_os_replace(monkeypatch):
    calls = []
    real = os.replace

    def spy(src, dst):
        calls.append((src, dst))
        real(src, dst)

    monkeypatch.setattr(fsutil.os, "replace", spy)
    return calls


def test_rename_overwrite_local_scheme_uses_os_replace(
    spark, tmp_path, monkeypatch
):
    dst = str(tmp_path / "stats.json")
    src = dst + ".tmp"
    fsutil.write_text(dst, "old", spark)
    fsutil.write_text(src, "new", spark)
    calls = _spy_os_replace(monkeypatch)
    fsutil.rename_overwrite(src, dst, spark)
    assert (src, dst) in calls
    assert not os.path.exists(src)
    # the .crc sidecar moved with the data: a Hadoop read verifies it
    assert fsutil.read_text(dst, spark) == "new"


def test_rename_overwrite_remote_default_fs_skips_os_replace(
    spark, tmp_path, monkeypatch
):
    """With fs.defaultFS=hdfs://, a scheme-less path names an HDFS
    file even when a same-named file exists on the driver's disk; the
    swap must go through the Hadoop rename, never os.replace."""
    dst = str(tmp_path / "stats.json")
    src = dst + ".tmp"
    fsutil.write_text(dst, "old", spark)
    fsutil.write_text(src, "new", spark)
    assert os.path.exists(src)
    monkeypatch.setattr(
        fsutil, "_scheme", lambda _spark, _path: "hdfs", raising=False
    )
    calls = _spy_os_replace(monkeypatch)
    fsutil.rename_overwrite(src, dst, spark)
    assert calls == []
    # the Hadoop rename (here resolving to the local FileSystem) did
    # the swap
    assert not os.path.exists(src)
    assert fsutil.read_text(dst, spark) == "new"
