"""Property test for the cosine family's shared band rule
(operators/similarity.band_select) against the per-row loops it replaced.

Every brute-force cosine kernel keeps, per row, the valid entries within
ROUND_MARGIN of the row's k-th best valid entry (all of them when the row
has at most k). The two loop forms below are the reference: the top-k form
of cosine_topk_queries / the Matryoshka sweep, and the k=1 max form of
hard_negative_mining / embedding_decontamination / SemDeDup's centroid
candidates. Inputs are drawn from a coarse grid plus margin-sized offsets,
so ties and entries exactly at the band's edge are common.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data__instagram_analysis_spark.operators.similarity import (
    ROUND_MARGIN,
    band_select,
)


def _loop_topk(sims, valid, k):
    out = []
    for r in range(sims.shape[0]):
        cols = np.nonzero(valid[r])[0]
        if cols.size > k:
            vals = sims[r][cols]
            kth = np.partition(vals, vals.size - k)[vals.size - k]
            cols = cols[vals >= kth - ROUND_MARGIN]
        out.extend((r, int(c)) for c in cols)
    return out


def _loop_max(sims, valid):
    out = []
    for r in range(sims.shape[0]):
        cols = np.nonzero(valid[r])[0]
        if cols.size:
            vals = sims[r][cols]
            out.extend((r, int(c)) for c in cols[vals >= vals.max() - ROUND_MARGIN])
    return out


_value = st.one_of(
    st.integers(-4, 4).map(lambda i: i / 4),  # coarse grid: heavy ties
    st.tuples(st.integers(-2, 2), st.integers(-3, 3)).map(
        lambda t: t[0] / 4 + t[1] * ROUND_MARGIN / 2  # at and around the edge
    ),
    st.floats(-1, 1).map(lambda x: round(x, 3)),
)


@st.composite
def _case(draw):
    rows = draw(st.integers(0, 6))
    cols = draw(st.integers(1, 12))
    sims = np.array(
        draw(st.lists(_value, min_size=rows * cols, max_size=rows * cols)),
        dtype=np.float64,
    ).reshape(rows, cols)
    dense = draw(st.booleans())
    valid = np.array(
        draw(
            st.lists(
                st.booleans() if dense else st.sampled_from([False] * 3 + [True]),
                min_size=rows * cols,
                max_size=rows * cols,
            )
        ),
        dtype=bool,
    ).reshape(rows, cols)
    return sims, valid, draw(st.integers(1, 10))


@settings(max_examples=400, deadline=None)
@given(case=_case())
def test_band_select_matches_per_row_loops(case):
    sims, valid, k = case
    got = list(zip(*(a.tolist() for a in band_select(sims, valid, k))))
    assert got == _loop_topk(sims, valid, k)
    if k == 1:
        assert got == _loop_max(sims, valid)
        if valid.all():
            all_valid = band_select(sims, True, 1)
            assert list(zip(*(a.tolist() for a in all_valid))) == got
