"""The one Arrow list-column decoder behind every ``mapInArrow`` worker.

A ``list<...>`` column arrives as an offsets buffer plus a values buffer.
Two details make hand-rolled decoding wrong on legal batch shapes:

- ``ListArray.values`` ignores the array's slice offset and its length, so
  a sliced batch carries values before ``offsets[0]`` and after
  ``offsets[-1]``.  The decoder cuts the values to that range and rebases
  the offsets to start at 0.
- ``flat.reshape(n, -1)`` succeeds on ragged rows whenever the total
  length divides ``n`` (``[[1.0], [2.0, 3.0, 4.0]]`` becomes
  ``[[1, 2], [3, 4]]``).  :func:`matrix` checks every row length first.

A null list, or a null inside a list, raises ``ValueError``: the workers'
callers guarantee non-null payloads, and a null would otherwise shift or
NaN-fill the flat buffer silently.

Workers must CAPTURE the decoder from :func:`make_list_decoder` inside
their own factory, never reference it at module level, so the payload
cloudpickles by value (tests/test_pickle_isolation.py).
"""

from __future__ import annotations


def make_list_decoder():
    """Return ``(lists, matrix)``.

    ``lists(col, what)`` gives ``(flat, offsets)``: the values of
    ``col``'s rows as one numpy array and int64 offsets into it starting
    at 0, so row ``i`` is ``flat[offsets[i]:offsets[i + 1]]``.
    ``matrix(col, what)`` gives the rows as an ``(n, d)`` array and raises
    unless every row has length ``d``.  ``what`` names the caller in
    error messages."""

    def lists(col, what):
        import numpy as np

        if col.null_count:
            raise ValueError(f"{what} received a null list")
        off = col.offsets.to_numpy().astype(np.int64)
        values = col.values.slice(off[0], off[-1] - off[0])
        if values.null_count:
            raise ValueError(f"{what} received a null list element")
        return values.to_numpy(zero_copy_only=False), off - off[0]

    def matrix(col, what):
        import numpy as np

        flat, off = lists(col, what)
        lens = np.diff(off)
        d = int(lens[0]) if len(lens) else 0
        if (lens != d).any():
            raise ValueError(
                f"{what} received rows of different lengths "
                f"({int(lens.min())}..{int(lens.max())})"
            )
        return flat.reshape(len(lens), d)

    return lists, matrix
