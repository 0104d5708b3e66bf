"""The independent output checkers on hand-built cases."""
import numpy as np
import pytest

import check
import gen

UNIT = (np.array([0.0, 1.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0, 1.0]))


def square(x0, y0, w):
    return (np.array([x0, x0 + w, x0 + w, x0]), np.array([y0, y0, y0 + w, y0 + w]))


def test_clipped_unit_square():
    assert check.clip_area(*UNIT, *square(0.5, 0.5, 1.0)) == pytest.approx(0.25)
    assert check.clip_area(*UNIT, *square(-1.0, -1.0, 3.0)) == pytest.approx(1.0)
    assert check.clip_area(*UNIT, *square(2.0, 2.0, 1.0)) == 0.0


def test_clip_of_concave_subject_keeps_exact_area():
    # an L-shape clipped by a square that cuts through both arms
    lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    assert check.clip_area(lx, ly, *square(0.5, 0.5, 2.0)) == pytest.approx(1.25)
    star_x, star_y = gen.star_ring(0.0, 0.0, 1.0, 0.5, 10, 0.1)
    whole = check.ring_area(star_x, star_y)
    assert check.clip_area(star_x, star_y, *square(-2, -2, 4)) == pytest.approx(whole)
    halves = (check.clip_area(star_x, star_y, *square(-2, -2, 2))
              + check.clip_area(star_x, star_y, *square(0, -2, 2))
              + check.clip_area(star_x, star_y, *square(-2, 0, 2))
              + check.clip_area(star_x, star_y, *square(0, 0, 2)))
    assert halves == pytest.approx(whole)


def test_parcel_grid_with_hole_area():
    # 3x3 block of unit parcels minus the centre: shell plus hole ring
    xs = [0, 3, 3, 0, 0, 1, 1, 2, 2, 1]
    ys = [0, 0, 3, 3, 0, 1, 2, 2, 1, 1]
    assert check.evenodd_area(xs, ys, [0, 4, 10]) == pytest.approx(8.0)
    # closed rings and a second, disjoint shell
    xs = [0, 1, 1, 0, 0, 5, 6, 6, 5, 5]
    ys = [0, 0, 1, 1, 0, 5, 5, 6, 6, 5]
    assert check.evenodd_area(xs, ys, [0, 5, 10]) == pytest.approx(2.0)
    assert check.evenodd_area(*UNIT, None) == pytest.approx(1.0)


def test_ray_cast_concave_and_pairs():
    lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    px = np.array([0.5, 1.5, 1.5, 0.5, 3.0])
    py = np.array([0.5, 0.5, 1.5, 1.5, 0.5])
    assert check.points_in_ring(px, py, lx, ly).tolist() == [True, True, False, True, False]
    shapes = [gen.Shape(3, "star", lx, ly, ""),
              gen.rect_shape(7, 1.2, 4.0, 0.0, 1.0)]
    keys = check.pip_pairs(np.array([10, 11, 12, 13, 14]), px, py, shapes)
    assert keys.tolist() == sorted([10003, 11003, 13003, 11007, 14007])
    assert check.pair_checksum(keys)[:2] == (5, sum(keys.tolist()))


def _geohash_code(h: str) -> int:
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    code = 0
    for c in h:
        code = (code << 5) | alphabet.index(c)
    return code


def test_cell_code_matches_published_geohash():
    # the classic example: lat 57.64911, lon 10.40744 -> u4pruydqqvj
    for p, h in ((5, "u4pru"), (6, "u4pruy"), (7, "u4pruyd")):
        assert check.cell_code([10.40744], [57.64911], p)[0] == _geohash_code(h)
    # a point on a cell edge belongs to the lower cell (strictly-greater rule)
    assert check.cell_code([0.0], [0.0], 1)[0] == _geohash_code("7")


def test_generators_are_seeded():
    a = gen.point_join_input(5, 200, 9)
    b = gen.point_join_input(5, 200, 9)
    c = gen.point_join_input(6, 200, 9)
    assert a.wkt() == b.wkt() and a.wkt() != c.wkt()
    o1, o2 = gen.overlay_input(5, 6, 5), gen.overlay_input(5, 6, 5)
    assert [s.wkt for s in o1.stars] == [s.wkt for s in o2.stars]
    assert sorted(len(s.xs) for s in o1.stars)[:1] == [8]
    assert set(gen.PINNED_VERTICES) <= {len(s.xs) for s in o1.stars}
    # every other block's centre parcel is its own group: a holed ring
    assert any(g.endswith("_c") for g in o1.parcel_group.values())


def test_docs_table_schema_and_kinds():
    inp = gen.point_join_input(3, 400, 6)
    t = inp.docs()
    assert t.column_names == ["doc_id", "spans"]
    assert t.schema.field("spans").type.value_type == gen.SPAN_TYPE
    spans = t.column("spans").to_pylist()[0]
    assert [s["offset"] for s in spans] == [0, 1, 2]
    assert spans[1]["text"] == inp.wkt()[0]
    heads = {w.split("(")[0].strip() for w in inp.wkt()}
    assert heads == set(gen.DOC_KINDS)
