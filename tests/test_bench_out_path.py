"""bench.py artifact paths: a run on a non-default core count never
writes the 32-core artifact name."""

import os
import subprocess
from types import SimpleNamespace

import pytest

import bench


def _git(dirty: bool, tracked: bool):
    def run(cmd, **kwargs):
        if cmd[:2] == ["git", "status"]:
            out = " M BENCH_LOCAL.json\n" if dirty else ""
            return SimpleNamespace(stdout=out)
        return SimpleNamespace(returncode=0 if tracked else 1)

    return run


@pytest.mark.parametrize(
    "dirty,tracked,cpus,name",
    [
        (True, True, 8, "BENCH_LOCAL.c8.json"),
        (False, False, 8, "BENCH_LOCAL.c8.json"),
        (False, True, 8, "BENCH_LOCAL.latest.c8.json"),
        (True, True, 32, "BENCH_LOCAL.json"),
        (False, True, 32, "BENCH_LOCAL.latest.json"),
    ],
)
def test_out_path_keeps_core_counts_apart(
    monkeypatch, dirty, tracked, cpus, name
):
    monkeypatch.setattr(subprocess, "run", _git(dirty, tracked))
    path = bench._resolve_out_path(None, "BENCH_LOCAL.json", cpus=cpus)
    assert os.path.basename(path) == name


def test_out_path_outside_git_keeps_core_counts_apart(monkeypatch):
    def no_git(cmd, **kwargs):
        raise FileNotFoundError("git")

    monkeypatch.setattr(subprocess, "run", no_git)
    path = bench._resolve_out_path(None, "BENCH_LOCAL.json", cpus=8)
    assert os.path.basename(path) == "BENCH_LOCAL.c8.json"
