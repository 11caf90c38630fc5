"""Unit tests for Drain-style prefix-tree clustering over signatures."""

from log_parser_cli_spark.operators.drain import cluster_signatures


def test_merge_same_shape_different_word():
    sigs = [
        ("resolve alpha dot com through dns", 10, 1),
        ("resolve bravo dot com through dns", 5, 2),
        ("resolve carol dot com through dns", 2, 3),
    ]
    clusters = cluster_signatures(sigs)
    assert len(clusters) == 1
    c = clusters[0]
    assert c.n_rows == 17
    assert c.template_star == "resolve <*> dot com through dns"
    assert sorted(c.signatures) == sorted(s for s, _, _ in sigs)


def test_no_merge_across_lengths():
    clusters = cluster_signatures([("a b c", 1, 1), ("a b c d", 1, 2)])
    assert len(clusters) == 2


def test_no_merge_below_similarity():
    clusters = cluster_signatures(
        [("alpha bravo carol delta echo", 1, 1), ("alpha zulu yankee xray whiskey", 1, 2)]
    )
    assert len(clusters) == 2  # 1/5 similarity < 0.6


def test_deterministic_ids_regardless_of_input_order():
    rows = [("x one a", 1, 3), ("x two a", 1, 1), ("y one b", 1, 2)]
    c1 = cluster_signatures(rows)
    c2 = cluster_signatures(list(reversed(rows)))
    assert [c.template_star for c in c1] == [c.template_star for c in c2]
    assert [c.first_seen for c in c1] == [c.first_seen for c in c2]


def test_branch_cap_bounds_deep_levels(monkeypatch):
    """High-cardinality tokens at tree level >= 1 must share a wildcard child
    once MAX_CHILDREN is hit — the cap is enforced against the actual sibling
    dict at each depth, not just the first token level."""
    from log_parser_cli_spark.operators import drain

    monkeypatch.setattr(drain, "MAX_CHILDREN", 4)
    monkeypatch.setattr(drain, "SIM_THRESHOLD", 0.99)
    tree = drain.DrainTree()
    # same first token, 100 distinct second tokens → level-2 siblings
    for i in range(100):
        tree.add_signature(f"fixed tok{i:03d} alpha beta", 1, i)
    # tree nodes under root[len=4]["fixed"]: at most MAX_CHILDREN+1 (cap + wildcard)
    level2 = tree._root[4]["fixed"]
    assert len(level2) <= 5


def test_mask_tokens_count_as_agreement():
    num = "\x00NUM\x00"
    clusters = cluster_signatures(
        [(f"served {num} blocks to alpha", 1, 1), (f"served {num} blocks to bravo", 1, 2)]
    )
    assert len(clusters) == 1
    assert clusters[0].template_star == "served <*> blocks to <*>"
