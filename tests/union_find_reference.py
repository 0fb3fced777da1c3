"""Pure-Python reference for connected-component labeling.

The local path of ``dedup.connected_components`` labels components
with a vectorized numpy union-find (``dedup._min_label_components``).
This dict-based union-find with path compression is its loop version:
tests compare both the numpy kernel and the star contraction against it.
"""

from __future__ import annotations


def union_find_labels(pairs) -> dict[int, int]:
    """vertex → min id of its component, over ``(a, b)`` edge pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {v: find(v) for v in parent}
