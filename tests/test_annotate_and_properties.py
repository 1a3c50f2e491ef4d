"""Hypothesis property tests for the matcher, XY-cut and hex-threshold
bucketing invariants."""

from hypothesis import given, settings
from hypothesis import strategies as st

from paper_layout_parser_spark.algorithms import greedy_assign, xy_cut_order

from . import oracle


BOX = st.tuples(
    st.floats(0, 800), st.floats(0, 1200),
    st.floats(20, 300), st.floats(20, 300),
).map(lambda t: {"x1": t[0], "y1": t[1], "x2": t[0] + t[2], "y2": t[1] + t[3]})


class TestMatcherProperties:
    @settings(max_examples=200, deadline=None)
    @given(items=st.lists(BOX, max_size=5), caps=st.lists(BOX, max_size=5),
           direction=st.sampled_from(["below", "above", "both"]))
    def test_invariants(self, items, caps, direction):
        result = oracle.match_items_to_captions(items, caps, direction)
        # every item appears exactly once, in input order
        assert [id(i) for i, _ in result] == [id(i) for i in items]
        used = [id(c) for _, c in result if c is not None]
        # each caption matched at most once
        assert len(used) == len(set(used))
        for item, cap in result:
            if cap is None:
                continue
            ok, dist = oracle.is_valid_match(item, cap, direction)
            assert ok and dist <= 100.0

    @settings(max_examples=200, deadline=None)
    @given(items=st.lists(BOX, max_size=4), caps=st.lists(BOX, max_size=4),
           direction=st.sampled_from(["below", "above", "both"]))
    def test_greedy_assign_equals_reference(self, items, caps, direction):
        expected = oracle.match_items_to_captions(items, caps, direction)
        pairs = []
        for i, item in enumerate(items):
            for j, cap in enumerate(caps):
                ok, dist = oracle.is_valid_match(item, cap, direction)
                if ok:
                    pairs.append((i, j, dist))
        got = greedy_assign(pairs)
        for i, (item, cap) in enumerate(expected):
            if cap is None:
                assert i not in got
            else:
                assert caps[got[i]] is cap


class TestXYCutProperties:
    @settings(max_examples=200, deadline=None)
    @given(boxes=st.lists(BOX, max_size=8))
    def test_is_permutation(self, boxes):
        tup = [(b["x1"], b["y1"], b["x2"], b["y2"]) for b in boxes]
        order = xy_cut_order(tup)
        assert sorted(order) == list(range(len(tup)))

    @settings(max_examples=100, deadline=None)
    @given(boxes=st.lists(BOX, min_size=2, max_size=6))
    def test_vertically_separated_is_y_sorted(self, boxes):
        # stack boxes with guaranteed positive gaps -> order must be by y
        stacked = []
        y = 0.0
        for i, b in enumerate(boxes):
            h = b["y2"] - b["y1"]
            stacked.append((b["x1"], y, b["x2"], y + h))
            y += h + 5.0
        assert xy_cut_order(stacked) == list(range(len(stacked)))


class TestHexThresholdProperties:
    """Properties of the md5 hex-threshold mechanism underpinning
    assign_split / stratified_sample / pack_sequences bucketing — pure
    Python, no SparkSession needed."""

    @given(st.lists(st.floats(min_value=0.01, max_value=10.0),
                    min_size=1, max_size=6))
    @settings(max_examples=50, deadline=None)
    def test_split_bounds_monotone_and_exhaustive(self, ws):
        from paper_layout_parser_spark.operators.curation import split_bounds

        weights = {f"s{i}": w for i, w in enumerate(ws)}
        bounds = [b for _, b in split_bounds(weights)]
        # monotone non-decreasing thresholds; the final one is the
        # keep-everything sentinel 'g' (> every hex string)
        assert bounds == sorted(bounds)
        assert bounds[-1] == "g"
        for b in bounds[:-1]:
            assert len(b) == 8 and all(c in "0123456789abcdef" for c in b)

    @given(st.integers(min_value=1, max_value=64))
    @settings(max_examples=30, deadline=None)
    def test_bucket_bounds_partition_the_space(self, n):
        import hashlib

        from paper_layout_parser_spark.operators.packing import bucket_bounds

        bounds = bucket_bounds(n)
        assert len(bounds) == n and bounds[-1] == "g"
        assert bounds == sorted(bounds)
        # every md5 prefix lands in exactly one bucket (strict-< scan)
        for probe in ("00000000", "7fffffff", "ffffffff", "deadbeef"):
            idx = next(i for i, ub in enumerate(bounds) if probe < ub)
            assert 0 <= idx < n
        # empirical balance on hashed ids: no bucket wildly off 1/n
        if n <= 8:
            counts = [0] * n
            for i in range(2000):
                h8 = hashlib.md5(f"pack:{i}".encode()).hexdigest()[:8]
                counts[next(j for j, ub in enumerate(bounds) if h8 < ub)] += 1
            assert min(counts) > 2000 / n * 0.6

    @given(st.floats(min_value=0.0, max_value=1.0))
    @settings(max_examples=50, deadline=None)
    def test_hex_bound_fraction_semantics(self, f):
        from paper_layout_parser_spark.operators.curation import hex_bound

        b = hex_bound(f)
        if f >= 1.0:
            assert b == "g"            # strict < keeps EVERYTHING
            assert "ffffffff" < b
        else:
            assert int(b, 16) == int(f * 16 ** 8)
        assert hex_bound(0.0) == "00000000"  # strict < keeps nothing
