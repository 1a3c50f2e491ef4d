"""Ports of the reference's CaptionMatcher tests (the reference repo's
tests/test_matching/test_caption_matcher.py) — same literal bboxes,
asserted through the per-page matcher the fused detect stage runs
(algorithms.match_page_captions, no Spark) — plus a Spark test of the
item-id window in match_captions."""

from paper_layout_parser_spark.algorithms import match_page_captions
from paper_layout_parser_spark.operators.matching import match_captions

DET_SCHEMA = (
    "url string, page_no int, width int, height int, det_idx int, "
    "class_name string, x1 double, y1 double, x2 double, y2 double, "
    "cap_x1 double, cap_y1 double, cap_x2 double, cap_y2 double, "
    "cap_text string"
)


def match(rows):
    """rows: (class_name, x1, y1, x2, y2) in detection order -> per row,
    the position of its assigned caption (None: no caption)."""
    return match_page_captions([r[0] for r in rows],
                               [tuple(map(float, r[1:])) for r in rows])


class TestMatchScenarios:
    def test_single_figure_single_caption(self):
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Figure-Caption", 100, 220, 300, 260),
        ]) == [1, None]

    def test_figure_no_caption(self):
        assert match([("Figure", 100, 100, 300, 200)]) == [None]

    def test_multiple_figures_captions(self):
        assert match([
            ("Figure", 50, 100, 250, 200),
            ("Figure", 300, 100, 500, 200),
            ("Figure-Caption", 50, 220, 250, 260),
            ("Figure-Caption", 300, 220, 500, 260),
        ]) == [2, 3, None, None]

    def test_table_caption_above(self):
        assert match([
            ("Table", 100, 200, 400, 500),
            ("Table-Caption", 100, 150, 400, 180),
        ]) == [1, None]

    def test_greedy_closer_wins(self):
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Figure-Caption", 100, 250, 300, 290),  # farther
            ("Figure-Caption", 100, 210, 300, 240),  # closer
        ]) == [2, None, None]

    def test_caption_cannot_match_multiple_figures(self):
        # the closer figure wins the one caption
        assert match([
            ("Figure", 100, 100, 250, 200),
            ("Figure", 100, 220, 250, 320),
            ("Figure-Caption", 100, 340, 250, 370),
        ]) == [None, 2, None]

    def test_too_far(self):
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Figure-Caption", 100, 301, 300, 340),  # 101 px below
        ]) == [None, None]

    def test_no_horizontal_overlap(self):
        assert match([
            ("Figure", 100, 100, 200, 200),
            ("Figure-Caption", 300, 220, 400, 260),
        ]) == [None, None]

    def test_wrong_direction_invalid(self):
        assert match([
            ("Table", 100, 200, 400, 500),
            ("Table-Caption", 100, 520, 400, 560),  # below, tables search above
        ]) == [None, None]

    def test_distance_exactly_at_max_is_valid(self):
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Figure-Caption", 100, 300, 300, 340),  # dist exactly 100
        ]) == [1, None]

    def test_item_ids_cumulative_per_document(self, spark):
        # figures on pages 1 and 3: counter is per-document cumulative
        # (figure_extractor.py:179-244)
        def det(page, det_idx, class_name, x1, y1, x2, y2):
            return ("u1", page, 400, 800, det_idx, class_name,
                    float(x1), float(y1), float(x2), float(y2),
                    None, None, None, None, None)

        df = spark.createDataFrame([
            det(1, 0, "Figure", 100, 100, 300, 200),
            det(3, 0, "Figure", 100, 100, 300, 200),
            det(3, 1, "Table", 50, 500, 400, 700),
        ], DET_SCHEMA)
        ids = sorted(r["item_id"] for r in match_captions(df).collect())
        assert ids == ["fig_01_01", "fig_03_02", "table_03_01"]


class TestCandidatePairs:
    def test_overlap_ratio_uses_smaller_width(self):
        # item width 300, caption width 100 fully inside -> ratio 1.0
        assert match([
            ("Figure", 100, 100, 400, 200),
            ("Figure-Caption", 150, 220, 250, 260),
        ]) == [1, None]

    def test_partial_overlap_below_threshold(self):
        # overlap 20 / min-width 100 = 0.2 < 0.3
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Figure-Caption", 280, 220, 380, 260),
        ]) == [None, None]

    def test_pairs_only_within_page_and_type(self):
        # a call sees one page; within it a figure never takes a table
        # caption, nor a table a figure caption
        assert match([
            ("Figure", 100, 100, 300, 200),
            ("Table-Caption", 100, 220, 300, 260),
            ("Table", 100, 500, 300, 700),
            ("Figure-Caption", 100, 440, 300, 480),
        ]) == [None, None, None, None]


class TestRandomizedParity:
    def test_matches_oracle_on_many_random_pages(self):
        """Randomized equivalence: the per-page matcher == the
        reference-port oracle on 300 random pages of figures, tables and
        both caption kinds, in shuffled detection order (129 of 912 items
        get a caption; greedy chains and distance ties included)."""
        import random

        from . import oracle

        rng = random.Random(7)
        searches = (("Figure", "Figure-Caption", "below"),
                    ("Table", "Table-Caption", "above"))
        for _ in range(300):
            names, boxes = [], []
            for name in ("Figure", "Table", "Figure-Caption", "Table-Caption"):
                caption = name.endswith("Caption")
                for _ in range(rng.randint(0, 3)):
                    # a 10 px grid: many pairs tie on distance
                    x, y = rng.randrange(0, 300, 10), rng.randrange(0, 400, 10)
                    names.append(name)
                    boxes.append((x, y, x + rng.randrange(50, 400, 10),
                                  y + rng.randrange(*((10, 80, 10) if caption
                                                      else (50, 200, 10)))))
            rng.shuffle(order := list(range(len(names))))
            names = [names[k] for k in order]
            boxes = [boxes[k] for k in order]
            got = match_page_captions(names, boxes)

            want = [None] * len(names)
            for item_name, cap_name, direction in searches:
                as_dict = [{"x1": b[0], "y1": b[1], "x2": b[2], "y2": b[3],
                            "pos": k} for k, b in enumerate(boxes)]
                items = [d for d, n in zip(as_dict, names) if n == item_name]
                caps = [d for d, n in zip(as_dict, names) if n == cap_name]
                for item, cap in oracle.match_items_to_captions(items, caps,
                                                                direction):
                    want[item["pos"]] = None if cap is None else cap["pos"]
            assert got == want
