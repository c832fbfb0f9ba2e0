import pytest

from perfbench import scoring


def test_cluster_pairs_and_truth_pairs():
    # clusters {1,2,3} and {7,8}; doc 9 alone
    pairs = scoring.cluster_pairs([1, 2, 3, 7, 8, 9], [1, 1, 1, 7, 7, 9])
    assert pairs == {(1, 2), (1, 3), (2, 3), (7, 8)}
    # truth -1 marks an unclustered page, never a cluster of its own
    truth = scoring.truth_dup_pairs([3, 1, 2, 5, 6], [10, 10, 10, -1, -1])
    assert truth == {(1, 2), (1, 3), (2, 3)}


def test_recall_precision_hand_built():
    truth = {(1, 2), (1, 3), (2, 3)}
    reported = {(1, 2), (7, 8)}
    assert scoring.recall_precision(reported, truth) == (pytest.approx(1 / 3), 0.5)
    assert scoring.recall_precision(set(), truth) == (0.0, 0.0)


def test_planted_substring_pairs():
    base = ["alpha"] * 30  # role 0: 30 tokens, planted run = first 25
    texts = {
        0: " ".join(base),
        3: " ".join(["fresh"] * 30 + base[:25]),
        8: "short one",  # group 1, role 0
        11: "another short",  # group 1, role 3: run < 64 chars
    }
    ids = {0: 100, 3: 103, 8: 108, 11: 111}
    got = scoring.planted_substring_pairs(
        [ids[i] for i in texts], list(texts), list(texts.values()), 64
    )
    assert got == {(100, 103)}


def test_shares_substring_is_exact_at_the_boundary():
    run = "x" * 64
    assert scoring.shares_substring("a" + run + "b", "c" + run, 64)
    assert not scoring.shares_substring("a" + run[:63] + "b", "c" + run[:63], 64)
    assert not scoring.shares_substring("short", "short", 64)


def test_sampled_precision_is_seeded():
    texts = {1: "y" * 70, 2: "y" * 70, 3: "z" * 70}
    pairs = [(1, 2), (1, 3), (2, 3)]
    assert scoring.sampled_substring_precision(pairs, texts, 64, seed=5) == pytest.approx(1 / 3)
    a = scoring.sampled_substring_precision(pairs, texts, 64, seed=5, sample=2)
    assert a == scoring.sampled_substring_precision(pairs, texts, 64, seed=5, sample=2)
