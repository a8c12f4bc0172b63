"""Grouped pair emission (dedup/lsh.py)."""

from __future__ import annotations


def test_track_hot_keys_returns_the_hot_key_count(spark):
    from dedup.lsh import pairs_within_groups

    rows = ([("hot", f"h{i}") for i in range(6)]
            + [("warm", f"w{i}") for i in range(5)]
            + [("cold", "c1"), ("cold", "c2"), ("single", "s1")])
    members = spark.createDataFrame(rows, "k string, url string")
    pairs, n_hot = pairs_within_groups(members, ["k"], cap=4,
                                       track_hot_keys=True)
    assert n_hot == 2
    plain = pairs_within_groups(members, ["k"], cap=4)
    assert (sorted(tuple(r) for r in pairs.collect())
            == sorted(tuple(r) for r in plain.collect()))
    _, n_none = pairs_within_groups(members, ["k"], cap=10,
                                    track_hot_keys=True)
    assert n_none == 0
