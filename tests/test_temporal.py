"""AS-OF and interval join semantics (operators.temporal) — hand-built
timelines covering ties, unmatched rows, both directions, null right
columns (atomic struct payload), and bucket-boundary intervals."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from paper_layout_parser_spark.operators.temporal import asof_join, interval_join


def _ts(minute):
    return dt.datetime(2020, 1, 1, 0, minute)


@pytest.fixture()
def sides(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(5)), (2, "u", _ts(10)), (3, "u", _ts(2)),
         (4, "v", _ts(7)), (5, "w", _ts(1))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _ts(4), 40.0, None), ("u", _ts(10), 100.0, "x"),
         ("v", _ts(9), 90.0, "y")],
        "user_id string, ts timestamp, amount double, tag string",
    )
    return left, right


class TestAsofJoin:
    def test_backward_with_ties_and_unmatched(self, spark, sides):
        left, right = sides
        got = {r["event_id"]: r for r in
               asof_join(left, right, on=["user_id"]).collect()}
        assert got[1]["ts_r"] == _ts(4)          # latest <= 0:05
        assert got[2]["ts_r"] == _ts(10)         # equal ts matches
        assert got[2]["amount_r"] == 100.0
        assert got[3]["ts_r"] is None            # nothing before 0:02
        assert got[4]["ts_r"] is None            # v's purchase is later
        assert got[5]["ts_r"] is None            # w has no right rows
        # atomic payload: tag (NULL on the 0:04 row) comes from the SAME
        # row as amount — never mixed with another row's non-null tag
        assert got[1]["amount_r"] == 40.0 and got[1]["tag_r"] is None

    def test_forward_direction(self, spark, sides):
        left, right = sides
        got = {r["event_id"]: r for r in
               asof_join(left, right, on=["user_id"],
                         direction="forward").collect()}
        assert got[3]["ts_r"] == _ts(4)          # earliest >= 0:02
        assert got[1]["ts_r"] == _ts(10)
        assert got[2]["ts_r"] == _ts(10)         # equal ts matches forward too
        assert got[4]["ts_r"] == _ts(9)
        assert got[5]["ts_r"] is None

    def test_matches_python_reference_on_random_timeline(self, spark):
        import random

        rnd = random.Random(7)
        lrows = [(i, f"u{rnd.randrange(3)}", _ts(rnd.randrange(59)))
                 for i in range(60)]
        rrows = list({(f"u{rnd.randrange(3)}", _ts(rnd.randrange(59)))
                      for _ in range(25)})
        right_rows = [(u, t, float(i)) for i, (u, t) in enumerate(sorted(rrows))]
        left = spark.createDataFrame(
            lrows, "event_id long, user_id string, ts timestamp")
        right = spark.createDataFrame(
            right_rows, "user_id string, ts timestamp, v double")
        got = {r["event_id"]: (r["ts_r"], r["v_r"]) for r in
               asof_join(left, right, on=["user_id"]).collect()}
        by_user: dict[str, list] = {}
        for u, t, v in right_rows:
            by_user.setdefault(u, []).append((t, v))
        for eid, u, t in lrows:
            cands = [(rt, v) for rt, v in by_user.get(u, []) if rt <= t]
            exp = max(cands) if cands else (None, None)
            assert got[eid] == exp, (eid, u, t)


class TestTimeRollup:
    def test_coarse_grains_equal_direct_aggregation(self, spark):
        from paper_layout_parser_spark.operators.temporal import time_rollup

        rows = [(f"t{i % 3}", _ts(i % 60), i % 7) for i in range(500)]
        ev = spark.createDataFrame(rows, "event_type string, ts timestamp, k long")
        got = time_rollup(ev, [300, 3600], keys=["event_type"], sum_col="k")
        by = {(r["granularity"], r["window_start"], r["event_type"]):
              (r["n_events"], r["sum_k"]) for r in got.collect()}
        # python reference: direct aggregation at each grain
        import collections
        for g in (300, 3600):
            direct = collections.Counter()
            sums = collections.Counter()
            for t, ts, k in rows:
                b = dt.datetime.utcfromtimestamp(
                    int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) // g * g)
                direct[(g, b, t)] += 1
                sums[(g, b, t)] += k
            for key, n in direct.items():
                assert by[key] == (n, sums[key]), key
        # nesting validated
        with pytest.raises(ValueError, match="nest"):
            time_rollup(ev, [300, 1000])

    def test_single_scan_of_source(self, spark):
        """The coarser grains re-aggregate the finest CACHED rollup — the
        raw source appears ONCE in the plan, not once per granularity
        (without the level persist, Spark's union duplicates the base
        subplan per level)."""
        from paper_layout_parser_spark.operators.temporal import time_rollup

        ev = spark.createDataFrame(
            [("a", _ts(1), 1)], "event_type string, ts timestamp, k long"
        )
        df = time_rollup(ev, [300, 3600, 86400], sum_col="k")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # every union branch beyond the base reads a CACHED rollup, so the
        # raw source is computed once (InMemoryRelation's printed subtree
        # repeats the original child plan — count cache READS instead)
        assert plan.count("InMemoryTableScan") >= 2, plan
        # (the duplication without the level cache can't be asserted
        # here: Spark's cache manager substitutes the already-cached base
        # into ANY matching plan, including a later uncached build)


class TestIntervalJoin:
    def test_containment_and_bucket_boundaries(self, spark):
        points = spark.createDataFrame(
            [(1, "u", _ts(5)), (2, "u", _ts(30)), (3, "u", _ts(59)),
             (4, "v", _ts(5))],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(10), 100), ("u", _ts(28), _ts(31), 200),
             ("u", _ts(5), _ts(45), 300)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        # tiny buckets force multi-bucket intervals; results must not dup
        got = sorted(
            (r["event_id"], r["iv_id"]) for r in
            interval_join(points, intervals, on=["user_id"],
                          bucket_seconds=120).collect()
        )
        assert got == [(1, 100), (1, 300), (2, 200), (2, 300)]
        # closed interval: boundary timestamps match
        b = interval_join(
            spark.createDataFrame([(9, "u", _ts(10))],
                                  "event_id long, user_id string, ts timestamp"),
            intervals, on=["user_id"], bucket_seconds=120,
        ).collect()
        assert {(r["event_id"], r["iv_id"]) for r in b} == {(9, 100), (9, 300)}

    def test_left_keeps_unmatched_points(self, spark):
        points = spark.createDataFrame(
            [(1, "u", _ts(5)), (2, "u", _ts(50))],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(10), 7)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        got = {r["event_id"]: r["iv_id"] for r in
               interval_join(points, intervals, on=["user_id"],
                             how="left").collect()}
        assert got == {1: 7, 2: None}

    def test_left_with_null_point_columns_no_duplicates(self, spark):
        """A matched point carrying a NULL column must not come back a
        second time as spuriously unmatched (the anti-join is null-safe)."""
        points = spark.createDataFrame(
            [(1, "u", _ts(5), None), (2, "u", _ts(50), 9.0)],
            "event_id long, user_id string, ts timestamp, payload double",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(10), 7)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        rows = interval_join(points, intervals, on=["user_id"],
                             how="left").collect()
        assert len(rows) == 2
        got = {r["event_id"]: r["iv_id"] for r in rows}
        assert got == {1: 7, 2: None}


class TestNullKeySemantics:
    """SQL join semantics for NULL keys/timestamps (DuckDB ASOF and
    inner/left joins never match NULLs) — ADVICE r3."""

    def test_asof_null_keys_never_match(self, spark):
        left = spark.createDataFrame(
            [(1, None, _ts(10)), (2, "u", _ts(10)), (3, "u", None)],
            "event_id long, user_id string, ts timestamp",
        )
        right = spark.createDataFrame(
            [(None, _ts(5), 100.0), ("u", _ts(5), 200.0), ("u", None, 300.0)],
            "user_id string, ts timestamp, payload double",
        )
        got = {r["event_id"]: r["payload_r"] for r in
               asof_join(left, right, on=["user_id"]).collect()}
        # NULL-key left row and NULL-ts left row: unmatched; NULL-key /
        # NULL-ts right rows: never matchable
        assert got == {1: None, 2: 200.0, 3: None}

    def test_asof_forward_null_ts_left_unmatched(self, spark):
        left = spark.createDataFrame(
            [(1, "u", None), (2, "u", _ts(0))],
            "event_id long, user_id string, ts timestamp",
        )
        right = spark.createDataFrame(
            [("u", _ts(5), 1.0)], "user_id string, ts timestamp, payload double",
        )
        got = {r["event_id"]: r["payload_r"] for r in
               asof_join(left, right, on=["user_id"],
                         direction="forward").collect()}
        # NULLS FIRST ordering would otherwise hand row 1 the first right row
        assert got == {1: None, 2: 1.0}

    def test_interval_null_key_point_left_unmatched(self, spark):
        points = spark.createDataFrame(
            [(1, None, _ts(5)), (2, "u", _ts(5))],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(10), 7), (None, _ts(0), _ts(10), 8)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        inner = {(r["event_id"], r["iv_id"]) for r in
                 interval_join(points, intervals, on=["user_id"]).collect()}
        assert inner == {(2, 7)}
        left = {r["event_id"]: r["iv_id"] for r in
                interval_join(points, intervals, on=["user_id"],
                              how="left").collect()}
        assert left == {1: None, 2: 7}


class TestIntervalLeftPlan:
    def test_bucketed_join_computed_once(self, spark):
        """The left path materializes the bucketed join once (lazy local
        checkpoint) and anti-joins on the narrow synthetic id: the final
        plan carries NO interval explode or bucket equi-join subtree (both
        live behind the checkpointed RDD) and exactly one join — the
        anti-join itself."""
        points = spark.createDataFrame(
            [(1, "u", _ts(5)), (2, "u", _ts(50))],
            "event_id long, user_id string, ts timestamp",
        )
        intervals = spark.createDataFrame(
            [("u", _ts(0), _ts(10), 7)],
            "user_id string, start timestamp, end timestamp, iv_id long",
        )
        out = interval_join(points, intervals, on=["user_id"], how="left")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "explode" not in plan.lower()
        assert plan.lower().count("join") == 1  # the narrow anti-join only
        assert "LeftAnti" in plan


class TestTimeRollupSalt:
    def test_salted_equals_unsalted_and_adds_one_exchange(self, spark):
        from paper_layout_parser_spark.operators.temporal import time_rollup

        ev = spark.createDataFrame(
            [(i, "e" if i % 3 else "f",
              dt.datetime(2020, 1, 1) + dt.timedelta(seconds=i * 420), i % 5)
             for i in range(200)],
            "event_id long, event_type string, ts timestamp, k long",
        ).repartition(8)
        levels = []
        plain = time_rollup(ev, [60, 3600], sum_col="k",
                            level_handles=levels)
        salted = time_rollup(ev, [60, 3600], sum_col="k",
                             level_handles=levels, salt=4)
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, salted.collect()))
        # release the cached finest levels: the cache manager would
        # otherwise answer the single-level plans below from them
        for lv in levels:
            lv.unpersist()
        # plan shape on a single level (no union duplication): exactly one
        # extra exchange, keyed on (__b, keys, __s) before the merge
        p1 = time_rollup(ev, [60], sum_col="k")
        p1s = time_rollup(ev, [60], sum_col="k", salt=4)
        # the salted finest grain is two-phase: one extra shuffle keyed on
        # (__b, keys, __s) before the merge
        p_plain = p1._jdf.queryExecution().executedPlan().toString()
        p_salt = p1s._jdf.queryExecution().executedPlan().toString()
        assert p_salt.count("Exchange hashpartitioning") == \
            p_plain.count("Exchange hashpartitioning") + 1
