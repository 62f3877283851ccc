"""PQ training's Arrow kernel (similarity._pq_partial_sums) against a
plain numpy re-derivation.

The kernel computes the Lloyd-update sufficient statistics in one
distributed pass: quantize each embedding (floor(float64(x) * 1000)),
optionally subtract its max-dot coarse centroid, assign every
subvector to its nearest seed centroid (first min wins ties) and sum
per (subspace, cell, position). The reference below restates that
contract element by element in numpy, with no vectorized assignment,
and the cases target the edges where a fast kernel can drift:

* tied seed assignments — equidistant seeds, and duplicate seeds, must
  resolve to the lowest cell id;
* empty cells — a seed nobody picks emits no rows, and the driver-side
  merge keeps that seed unchanged;
* float32 boundary values — 0.32f is 0.3199999928… in float64, so it
  quantizes to 319, where a float32 multiply would round to 320.
"""

from __future__ import annotations

import numpy as np
import pytest

from duckdb_redis_olap_scanner_spark.operators import similarity as S

M, SD = 4, 2  # 4 subspaces of 2 dims: 8-dim embeddings


def _quantize(x) -> np.ndarray:
    """floor(float64(float32 x) * 1000), one element at a time."""
    return np.array(
        [np.floor(np.float64(np.float32(v)) * 1000.0) for v in x],
        dtype=np.int64,
    )


def ref_partial_sums(vecs, seed_cent, coarse=None) -> dict:
    """(j, cell, pos) -> (sum, count) over every vector's assignment."""
    out: dict = {}
    for x in vecs:
        q = _quantize(x)
        if coarse is not None:
            dots = [int(np.dot(q, np.array(c, dtype=np.int64)))
                    for c in coarse]
            q = q - np.array(coarse[dots.index(max(dots))], dtype=np.int64)
        for j in range(M):
            sub = q[j * SD:(j + 1) * SD]
            dists = [
                int(sum((int(a) - int(b)) ** 2 for a, b in zip(sub, c)))
                for c in seed_cent[j]
            ]
            cell = dists.index(min(dists))  # first min: lowest cell id
            for pos in range(SD):
                s, n = out.get((j, cell, pos), (0, 0))
                out[(j, cell, pos)] = (s + int(sub[pos]), n + 1)
    return out


def kernel_partial_sums(spark, vecs, seed_cent, coarse=None) -> dict:
    df = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(3)  # several tasks, so the partials really merge
    rows = S._pq_partial_sums(df, seed_cent, M, SD, coarse=coarse)
    return {
        (int(r.j), int(r.cell), int(r.pos)): (int(r.s), int(r.cnt))
        for r in rows
    }


def _seeds(*cells):
    """The same per-cell centroid in every subspace."""
    return [[list(c) for c in cells] for _ in range(M)]


def test_float32_boundary_values_quantize_in_float64():
    x = np.float32(0.32)
    assert np.floor(np.float32(x) * np.float32(1000.0)) == 320
    assert _quantize([x])[0] == 319
    assert _quantize([np.float32(-0.32)])[0] == -320


@pytest.mark.parametrize(
    "vals",
    [
        [0.32, 0.29, 0.57, -0.32, 0.001, -0.001, 0.999, 1.0],
        [0.1, 0.2, 0.3, 0.7, 0.9, -0.7, -0.9, 0.0],
    ],
)
def test_float32_boundary_values_match_reference(spark, vals):
    vecs = [vals, [-v for v in vals], [v / 2 for v in vals]]
    seed_cent = _seeds((0, 0), (300, 300), (-300, -300))
    got = kernel_partial_sums(spark, vecs, seed_cent)
    assert got == ref_partial_sums(vecs, seed_cent)


def test_kernel_quantizes_0_32f_to_319(spark):
    # seeds at 319 and 320: the float64 route picks cell 1, a float32
    # multiply would pick cell 2
    seed_cent = _seeds((0, 0), (319, 319), (320, 320))
    got = kernel_partial_sums(spark, [[0.32] * 8], seed_cent)
    assert got == ref_partial_sums([[0.32] * 8], seed_cent)
    assert got[(0, 1, 0)] == (319, 1)


def test_tied_seed_assignments_take_lowest_cell(spark):
    # seeds at 0 and 100 in every dim: 0.05f and 0.051f (0.05099…)
    # both quantize to 50, exactly halfway, so they tie 0 vs 1; seeds
    # 2 and 3 are identical, so a vector near them ties 2 vs 3
    seed_cent = _seeds((0, 0), (100, 100), (500, 500), (500, 500))
    vecs = [[0.05] * 8, [0.5] * 8, [0.49] * 8, [0.051] * 8]
    got = kernel_partial_sums(spark, vecs, seed_cent)
    want = ref_partial_sums(vecs, seed_cent)
    assert got == want
    # the tie went to the lower cell in both pairs
    assert want[(0, 0, 0)] == (100, 2)
    assert want[(0, 2, 0)] == (500 + 490, 2)
    assert (0, 3, 0) not in want


def test_empty_cells_emit_nothing_and_keep_their_seed(spark):
    seed_cent = _seeds((0, 0), (1000, 1000), (-1000, -1000), (7, 7))
    vecs = [[0.01] * 8, [0.02] * 8, [0.9] * 8]
    got = kernel_partial_sums(spark, vecs, seed_cent)
    assert got == ref_partial_sums(vecs, seed_cent)
    # 0.01f and 0.02f quantize to 9 and 19, both nearest (7, 7);
    # nobody is nearest to (0, 0) or (-1000, -1000)
    cells = {cell for (_, cell, _) in got}
    assert cells == {1, 3}
    # the driver-side Lloyd update keeps the empty cell's seed
    rows = S._pq_partial_sums(
        spark.createDataFrame(
            [(i, x) for i, x in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        ),
        seed_cent, M, SD,
    )
    cent = S._pq_merge_sums(seed_cent, rows, M, SD)
    for j in range(M):
        assert cent[j][0] == [0, 0]
        assert cent[j][2] == [-1000, -1000]
        assert cent[j][3] == [14, 14]  # (9 + 19) // 2


def test_residual_training_matches_reference(spark):
    # coarse cells 0 and 1 are identical, so every vector ties them
    # on the dot product; the first max (lowest cid) must win
    coarse = [[1] * 8, [1] * 8, [-1] * 8]
    seed_cent = _seeds((0, 0), (50, 50), (-50, -50))
    vecs = [[0.0] * 8, [0.32] * 8, [-0.04] * 8, [0.05, -0.05] * 4]
    got = kernel_partial_sums(spark, vecs, seed_cent, coarse=coarse)
    assert got == ref_partial_sums(vecs, seed_cent, coarse=coarse)
