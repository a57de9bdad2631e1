"""Edge-batch suite for the ``mapInArrow`` workers — pure pyarrow, no Spark.

Each worker factory is called directly on batch shapes Spark does not send
today but Arrow allows: sliced batches (non-zero offset, values buffer not
trimmed to the slice), ragged rows, null lists or elements, and empty
batches.  Outputs are compared with small pure-Python references; a shape
a worker cannot handle must raise, never return a wrong answer."""

import pyarrow as pa
import pytest

from postpy_spark.operators.arrow_lists import make_list_decoder
from postpy_spark.operators.dedup import _make_simhash_worker
from postpy_spark.operators.similarity import (
    _make_assign_worker,
    _make_pair_dot_worker,
    _make_signature_worker,
)

VEC = pa.list_(pa.float64())
PLANES = [[1.0, -0.5, 0.25], [-1.0, 0.5, 2.0], [0.5, 0.5, -1.0], [0.0, 1.0, 1.0]]
CELLS = [(10, [1.0, 0.0, 0.0]), (20, [0.0, 0.6, 0.8]), (30, [0.0, 1.0, 0.0])]


def _run(worker, batch):
    out = list(worker(iter([batch])))
    assert len(out) == 1
    return out[0]


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


# ---------------------------------------------------------------------------
# the decoder
# ---------------------------------------------------------------------------


def test_decoder_rebases_and_trims_a_sliced_list():
    lists, matrix = make_list_decoder()
    col = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0], [9.0, 9.0]], VEC).slice(1, 2)
    flat, off = lists(col, "probe")
    assert flat.tolist() == [1.0, 2.0, 3.0, 4.0]
    assert off.tolist() == [0, 2, 4]
    assert matrix(col, "probe").tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_decoder_rejects_ragged_null_list_and_null_element():
    lists, matrix = make_list_decoder()
    with pytest.raises(ValueError, match="different lengths"):
        matrix(pa.array([[1.0], [2.0, 3.0, 4.0]], VEC), "probe")
    with pytest.raises(ValueError, match="null list"):
        lists(pa.array([[1.0], None], VEC), "probe")
    with pytest.raises(ValueError, match="null list element"):
        lists(pa.array([[1.0, None]], VEC), "probe")
    # a ragged column is fine for the flat form (SimHash token lists)
    flat, off = lists(pa.array([[1.0], [2.0, 3.0, 4.0]], VEC), "probe")
    assert flat.tolist() == [1.0, 2.0, 3.0, 4.0] and off.tolist() == [0, 1, 4]


def test_decoder_empty_column():
    lists, matrix = make_list_decoder()
    col = pa.array([[1.0, 2.0]], VEC).slice(1, 0)
    flat, off = lists(col, "probe")
    assert len(flat) == 0 and off.tolist() == [0]
    assert matrix(col, "probe").shape == (0, 0)


# ---------------------------------------------------------------------------
# per-worker batch builders and pure-Python references
# ---------------------------------------------------------------------------

SV = [[1.0, 2.0, 3.0], [0.5, -1.5, 2.0], [0.1, 0.2, 0.3], [-2.0, 0.0, 4.0]]
DV = [[3.0, 4.0, 5.0], [2.0, 2.0, -1.0], [0.3, 0.2, 0.1], [1.0, 1.0, 1.0]]


def _pair_batch(sv, dv):
    n = len(sv)
    return pa.RecordBatch.from_arrays(
        [pa.array(range(n), pa.int64()), pa.array(range(100, 100 + n), pa.int64()),
         pa.array(sv, VEC), pa.array(dv, VEC)],
        ["src", "dst", "sv", "dv"],
    )


def _sig_ref(vecs, planes, bands):
    width = len(planes) // bands
    rows = []
    for i, v in enumerate(vecs):
        bits = [1 if _dot(v, p) >= 0 else 0 for p in planes]
        for b in range(bands):
            val = 0
            for r in range(width):
                val = val * 2 + bits[b * width + r]
            rows.append((i, b, val))
    return rows


def _assign_ref(vecs, cells):
    out = []
    for v in vecs:
        best = None
        for cid, c in sorted(cells):
            s = _dot(v, c)
            if best is None or s > best[0]:
                best = (s, cid)
        out.append(best[1])
    return out


def _simhash_ref(hashes):
    sig = 0
    for b in range(64):
        ones = sum((h >> b) & 1 for h in hashes)
        if 2 * ones > len(hashes):
            sig |= 1 << b
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def _vec_batch(vecs, names=("id", "v")):
    return pa.RecordBatch.from_arrays(
        [pa.array(range(len(vecs)), pa.int64()), pa.array(vecs, VEC)], list(names)
    )


def _hash_batch(lists):
    return pa.RecordBatch.from_arrays(
        [pa.array(range(len(lists)), pa.int64()), pa.array(lists, pa.list_(pa.int64()))],
        ["doc_id", "_hs"],
    )


# ---------------------------------------------------------------------------
# sliced batches give the reference answer
# ---------------------------------------------------------------------------


def test_pair_dot_sliced_batch():
    out = _run(_make_pair_dot_worker(), _pair_batch(SV, DV).slice(1, 2))
    assert out.column("src").to_pylist() == [1, 2]
    assert out.column("dot").to_pylist() == [_dot(SV[i], DV[i]) for i in (1, 2)]


def test_signature_sliced_batch():
    out = _run(_make_signature_worker(PLANES, 2), _vec_batch(SV).slice(1, 2))
    got = list(zip(*(out.column(i).to_pylist() for i in range(3))))
    assert got == [(i + 1, b, v) for i, b, v in _sig_ref(SV[1:3], PLANES, 2)]


def test_assign_sliced_batch():
    batch = _vec_batch(SV, ("vec_id", "embedding")).slice(1, 2)
    out = _run(_make_assign_worker(CELLS), batch)
    assert out.column("cell_id").to_pylist() == _assign_ref(SV[1:3], CELLS)
    assert out.column("embedding").to_pylist() == SV[1:3]


def test_simhash_sliced_batch_tail_segment():
    # the last row's reduceat segment must stop at its own last hash: with
    # the untrimmed values buffer, [3] was counted as [3, 5, 5] (simhash 7)
    hs = [[7, 7, 7], [1, 2], [3], [5, 5]]
    out = _run(_make_simhash_worker(), _hash_batch(hs).slice(1, 2))
    assert out.column("doc_id").to_pylist() == [1, 2]
    assert out.column("simhash").to_pylist() == [_simhash_ref(h) for h in hs[1:3]]


def test_simhash_sign_bit_and_negative_hashes():
    hs = [[-1], [-1, -1, 5], [2**62, -(2**63), -(2**63)]]
    out = _run(_make_simhash_worker(), _hash_batch(hs))
    assert out.column("simhash").to_pylist() == [_simhash_ref(h) for h in hs]


# ---------------------------------------------------------------------------
# ragged rows, null lists and null elements raise
# ---------------------------------------------------------------------------

# total length 4 divides n=2, so a bare reshape(n, -1) would not notice
RAGGED = [[1.0], [2.0, 3.0, 4.0]]


def test_vector_workers_reject_ragged_rows():
    with pytest.raises(ValueError, match="different lengths"):
        _run(_make_pair_dot_worker(), _pair_batch(RAGGED, [[1.0, 1.0]] * 2))
    with pytest.raises(ValueError, match="different lengths"):
        _run(_make_signature_worker([[1.0, 0.0], [0.0, 1.0]], 1), _vec_batch(RAGGED))
    with pytest.raises(ValueError, match="different lengths"):
        _run(_make_assign_worker([(1, [1.0, 0.0])]), _vec_batch(RAGGED))


@pytest.mark.parametrize("bad", [[[1.0, 2.0, 3.0], None], [[1.0, 2.0, 3.0], [1.0, None, 3.0]]])
def test_vector_workers_reject_nulls(bad):
    with pytest.raises(ValueError, match="null"):
        _run(_make_pair_dot_worker(), _pair_batch(bad, SV[:2]))
    with pytest.raises(ValueError, match="null"):
        _run(_make_pair_dot_worker(), _pair_batch(SV[:2], bad))
    with pytest.raises(ValueError, match="null"):
        _run(_make_signature_worker(PLANES, 2), _vec_batch(bad))
    with pytest.raises(ValueError, match="null"):
        _run(_make_assign_worker(CELLS), _vec_batch(bad))


@pytest.mark.parametrize("bad", [[[1, 2], None], [[1, None]]])
def test_simhash_rejects_nulls(bad):
    with pytest.raises(ValueError, match="null"):
        _run(_make_simhash_worker(), _hash_batch(bad))


# ---------------------------------------------------------------------------
# empty batches keep the worker's schema
# ---------------------------------------------------------------------------


def _schema(out):
    return list(zip(out.schema.names, out.schema.types))


def test_empty_batches_keep_schema():
    i64, i32 = pa.int64(), pa.int32()
    out = _run(_make_pair_dot_worker(), _pair_batch(SV, DV).slice(2, 0))
    assert out.num_rows == 0
    assert _schema(out) == [("src", i64), ("dst", i64), ("dot", pa.float64())]

    out = _run(_make_signature_worker(PLANES, 2), _vec_batch(SV).slice(2, 0))
    assert out.num_rows == 0
    assert _schema(out) == [("id", i64), ("band_id", i32), ("band_val", i32)]

    out = _run(_make_assign_worker(CELLS), _vec_batch(SV, ("vec_id", "embedding")).slice(2, 0))
    assert out.num_rows == 0
    assert _schema(out) == [("vec_id", i64), ("embedding", VEC), ("cell_id", i64)]

    out = _run(_make_simhash_worker(), _hash_batch([[1], [2]]).slice(1, 0))
    assert out.num_rows == 0
    assert _schema(out) == [("doc_id", i64), ("simhash", i64)]
