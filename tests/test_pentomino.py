"""Real pentomino exact-cover solver (examples/dancing parity)."""

from __future__ import annotations

from hadoop_1_spark.operators import pentomino as pt


def test_orientation_counts_match_one_sided_pentominoes():
    """Distinct orientations per piece are the classic one-sided counts
    (and equal the reference's static rotations x flip encoding)."""
    want = {"f": 8, "i": 2, "l": 8, "n": 8, "p": 8, "t": 4,
            "u": 4, "v": 4, "w": 4, "x": 1, "y": 8, "z": 4}
    got = {n: len(pt.orientations(s, fl, nr)) for n, s, fl, nr in pt.PIECES}
    assert got == want
    assert sum(got.values()) == 63


def test_model_rows_cover_five_cells_plus_piece():
    rows = pt.build_model(10, 6)
    assert len(rows) == 2032
    for cols in rows:
        assert len(cols) == 6          # 5 cells + 1 piece column
        assert cols[-1] >= 60          # piece column id
        assert all(c < 60 for c in cols[:-1])


def test_3x20_solution_count():
    """3x20 board: 2 free solutions x 8 raw / the x-quadrant constraint
    (which here only halves the horizontal axis — x cannot move
    vertically on a height-3 board, so the vertical flip survives) = 4.
    Same count the reference model produces for this geometry."""
    assert pt.solver(20, 3).solve() == 4


def test_split_partitions_the_search():
    """Prefix counts must sum to the whole search's count (split/solve
    agree on ordering) — checked on 3x20 where the full solve is fast."""
    s = pt.solver(20, 3)
    prefixes = s.split(2)
    assert len(prefixes) > 1
    total = sum(pt.solver(20, 3).solve(p) for p in prefixes)
    assert total == 4


def test_sudoku_reference_format_and_unique_solution():
    """Parse the reference's '?' puzzle grammar and solve a 9x9 with a
    unique solution: the fixture blanks 45 cells of the canonical
    pattern grid (r*3 + r//3 + c) % 9 + 1; the solver must recover it
    exactly and prove uniqueness (limit=2 finds no second solution)."""
    full = [[(r * 3 + r // 3 + c) % 9 + 1 for c in range(9)] for r in range(9)]
    text = "\n".join(
        " ".join(
            "?" if (3 * r + 5 * c) % 9 < 5 else str(full[r][c])
            for c in range(9)
        )
        for r in range(9)
    )
    grid = pt.parse_sudoku(text)
    assert sum(1 for row in grid for v in row if v is None) == 45
    sols = pt.solve_sudoku(grid, limit=2)
    assert len(sols) == 1
    assert sols[0] == full


def test_sudoku_detects_multiple_solutions():
    empty = [[None] * 4 for _ in range(4)]
    sols = pt.solve_sudoku(empty, limit=2)
    assert len(sols) == 2  # 4x4 blank has many; limit stops at 2
