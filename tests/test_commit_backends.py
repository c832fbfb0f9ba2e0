"""Commit-primitive contract tests (round-4 verdict item 3): the
fault-injecting spec `SnapshotTable`'s commit point must pass —
exclusive publish, exactly one winner among concurrent publishers, and
no partial object after a crash at the install step. A port of the
commit point (e.g. an object-store conditional PUT) must pass the same
suite."""

from __future__ import annotations

import os
import threading

import pytest

from simages_spark.table import CommitConflict, PosixLinkCommit

BACKENDS = [PosixLinkCommit]


@pytest.mark.parametrize("backend", BACKENDS, ids=["link"])
def test_publish_is_exclusive(backend, tmp_path):
    final = str(tmp_path / "v0.manifest.json")
    b = backend()
    b.publish(final, b"first")
    with pytest.raises(CommitConflict):
        b.publish(final, b"second")
    assert open(final, "rb").read() == b"first"


@pytest.mark.parametrize("backend", BACKENDS, ids=["link"])
def test_concurrent_publishers_exactly_one_wins(backend, tmp_path):
    final = str(tmp_path / "v1.manifest.json")
    wins, losses, errors = [], [], []
    barrier = threading.Barrier(8)

    def racer(i: int):
        try:
            barrier.wait()
            backend().publish(final, f"payload-{i}".encode() * 1000)
            wins.append(i)
        except CommitConflict:
            losses.append(i)
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    ts = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors
    assert len(wins) == 1 and len(losses) == 7
    # never a torn object: the content is exactly the winner's payload
    assert open(final, "rb").read() == f"payload-{wins[0]}".encode() * 1000


@pytest.mark.parametrize("backend", BACKENDS, ids=["link"])
def test_crash_between_write_and_publish(backend, tmp_path, monkeypatch):
    """Kill the install step: the final path must NOT exist (no partial
    object, no wedged head version) and a retry must succeed."""
    final = str(tmp_path / "v2.manifest.json")
    b = backend()
    step = os.link

    def crashing(src, dst):
        raise OSError(5, "injected crash at the install step")

    monkeypatch.setattr(os, "link", crashing)
    with pytest.raises(OSError):
        b.publish(final, b"doomed")
    monkeypatch.setattr(os, "link", step)
    assert not os.path.exists(final)
    # leftover tmp files match the vacuum sweep pattern
    for f in os.listdir(tmp_path):
        if f.startswith("v2"):
            assert ".manifest.json.tmp-" in f
    b.publish(final, b"retried")
    assert open(final, "rb").read() == b"retried"
