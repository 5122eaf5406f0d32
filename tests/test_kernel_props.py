"""Property-based checks (hypothesis) for the vectorized scoring kernel —
the batch-wide searchsorted intersect must equal the obvious per-pair
computation on arbitrary ragged inputs. No Spark session needed: the
kernel operates on plain Arrow arrays."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from record_matching_spark.operators.scoring import _arrow_side, _cos_jac_batch

# a pair = (sorted distinct tids, aligned weights) per side; tids < 2^31
_tid = st.integers(min_value=0, max_value=(1 << 31) - 1)


@st.composite
def _side(draw):
    ids = sorted(draw(st.sets(_tid, min_size=0, max_size=12)))
    ws = [draw(st.floats(0.01, 1.0, allow_nan=False)) for _ in ids]
    return ids, ws


@st.composite
def _batch(draw):
    n = draw(st.integers(min_value=0, max_value=8))
    return [(draw(_side()), draw(_side())) for _ in range(n)]


def _oracle(pairs):
    cos, jac = [], []
    for (ia, wa), (ib, wb) in pairs:
        da = dict(zip(ia, wa))
        db = dict(zip(ib, wb))
        common = set(da) & set(db)
        union = len(set(da) | set(db))
        jac.append(len(common) / union if union else 0.0)
        cos.append(sum(da[t] * db[t] for t in common))
    return np.array(cos), np.array(jac)


@settings(max_examples=200, deadline=None)
@given(_batch())
def test_cos_jac_batch_matches_per_pair_oracle(pairs):
    n = len(pairs)
    tid_l = pa.array([p[0][0] for p in pairs], type=pa.list_(pa.int32()))
    tw_l = pa.array([p[0][1] for p in pairs], type=pa.list_(pa.float32()))
    tid_r = pa.array([p[1][0] for p in pairs], type=pa.list_(pa.int32()))
    tw_r = pa.array([p[1][1] for p in pairs], type=pa.list_(pa.float32()))
    cos, jac = _cos_jac_batch(_arrow_side(tid_l, tw_l), _arrow_side(tid_r, tw_r), n)
    want_cos, want_jac = _oracle(pairs)
    # float32 weights ride the Arrow arrays, so compare at float32 precision
    assert np.allclose(jac, want_jac, atol=1e-12)
    assert np.allclose(cos, want_cos, atol=1e-5)


def test_cos_jac_batch_null_rows():
    """Null list slots (empty-token documents) behave as empty token sets."""
    tid_l = pa.array([None, [1, 2]], type=pa.list_(pa.int32()))
    tw_l = pa.array([None, [0.5, 0.5]], type=pa.list_(pa.float32()))
    tid_r = pa.array([[1], None], type=pa.list_(pa.int32()))
    tw_r = pa.array([[1.0], None], type=pa.list_(pa.float32()))
    cos, jac = _cos_jac_batch(_arrow_side(tid_l, tw_l), _arrow_side(tid_r, tw_r), 2)
    assert list(jac) == [0.0, 0.0] and list(cos) == [0.0, 0.0]
