from pathlib import Path

import pytest

from perfbench.eventlog import fold, fold_dir

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


def test_fold_sums_completed_attempts_per_label():
    folded = fold(FIXTURE.read_text().splitlines())
    # job 2 and stage 3 carry no job group: not attributed anywhere
    assert set(folded) == {"lsh", "verify"}
    lsh = folded["lsh"]
    assert lsh["jobs"] == 1
    # stage 0 (4 tasks) + both attempts of stage 1 (2 + 2 tasks)
    assert lsh["tasks"] == 8
    assert lsh["executor_s"] == pytest.approx(1.5 + 0.1 + 0.4)
    assert lsh["gc_s"] == pytest.approx(0.25)
    assert lsh["shuffle_mb"] == pytest.approx(2.0)
    assert lsh["spill_mb"] == pytest.approx(1.0)


def test_fold_counts_a_reused_stage_once():
    # job 1 lists stage 0 again, but Spark skips it: no second completion
    verify = fold(FIXTURE.read_text().splitlines())["verify"]
    assert verify == {
        "jobs": 1, "tasks": 3, "executor_s": pytest.approx(0.3),
        "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
    }


def test_fold_dir_skips_checksum_files(tmp_path):
    (tmp_path / "app-1").write_text(FIXTURE.read_text())
    (tmp_path / ".app-1.crc").write_bytes(b"\x00\xffcrc")
    assert fold_dir(tmp_path) == fold(FIXTURE.read_text().splitlines())


def test_fold_dir_requires_a_log(tmp_path):
    with pytest.raises(FileNotFoundError):
        fold_dir(tmp_path)
