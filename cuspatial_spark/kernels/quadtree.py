"""Point-quadtree construction + quadtree/bbox spatial-join filter phase.

NumPy re-expression of the reference's flat quadtree
(construction: /root/reference/cpp/include/cuspatial/detail/point_quadtree.cuh:43-188
and detail/index/construction/phase_1.cuh:60-166, phase_2.cuh;
BFS bbox filter: detail/join/quadtree_bbox_filtering.cuh:36-188,
overlap test: detail/join/intersection.cuh:79-128,
descent: detail/join/traversal.cuh:63-145).

The construction here is a clean top-down/bottom-up hybrid over sorted
Morton keys producing the *same* output table:

  columns (key:uint32, level:uint8, is_internal_node:bool,
           length:uint32, offset:uint32)
  rows ordered level-major (level 0 first), ascending key within level.

- a node at level L covers Morton prefix `key` (2*(L+1) bits);
- a node is INTERNAL iff its point count > max_size and L < max_depth-1;
  internal length = #children, offset = table index of first child;
- a LEAF's length = #points, offset = first point position in the
  Morton-sorted point order (leaves tile the sorted point sequence in
  flattened-key order);
- subtrees under a leaf are pruned; points outside the AOI get the
  sentinel max key (sorted last, landing in the last quadrant).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .zorder import point_keys, z_order_x, z_order_y


def min_scale(x_min, x_max, y_min, y_max, max_depth):
    """The reference's smallest cell size for an AOI at ``max_depth``
    (point_quadtree.cuh:263-268), and the default ``scale`` of every
    tiled plan."""
    return max(x_max - x_min, y_max - y_min) / ((1 << max_depth) + 2)


def clamp_scale(x_min, x_max, y_min, y_max, scale, max_depth):
    """Reference parameter sanitation (indexing.py:165-177 +
    point_quadtree.cuh:263-268): bounds normalized, scale >= min_scale."""
    x_min, x_max = min(x_min, x_max), max(x_min, x_max)
    y_min, y_max = min(y_min, y_max), max(y_min, y_max)
    scale = max(scale, min_scale(x_min, x_max, y_min, y_max, max_depth))
    return x_min, x_max, y_min, y_max, scale


@dataclass
class Quadtree:
    key: np.ndarray  # uint32
    level: np.ndarray  # uint8
    is_internal_node: np.ndarray  # bool
    length: np.ndarray  # uint32
    offset: np.ndarray  # uint32

    def __len__(self):
        return len(self.key)


def build_quadtree(
    x: np.ndarray,
    y: np.ndarray,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    max_size: int,
):
    """Returns (point_order:int64 array, Quadtree).

    point_order is the permutation mapping sorted position -> original
    point index (the reference's `key_to_point`).
    """
    if not 0 < max_depth <= 15:
        raise ValueError("max_depth must be in (0, 15]")
    x_min, x_max, y_min, y_max, scale = clamp_scale(
        x_min, x_max, y_min, y_max, scale, max_depth
    )
    x = np.asarray(x)
    y = np.asarray(y)
    n = len(x)
    keys = point_keys(x, y, x_min, x_max, y_min, y_max, scale, max_depth)
    point_order = np.argsort(keys, kind="stable").astype(np.int64)
    sorted_keys = keys[point_order]

    if n == 0:
        empty_u32 = np.zeros(0, dtype=np.uint32)
        return point_order, Quadtree(
            empty_u32,
            np.zeros(0, dtype=np.uint8),
            np.zeros(0, dtype=bool),
            empty_u32.copy(),
            empty_u32.copy(),
        )

    ks, counts = np.unique(sorted_keys, return_counts=True)
    return point_order, build_quadtree_from_cell_counts(ks, counts, max_depth, max_size)


def build_quadtree_from_cell_counts(
    cell_keys: np.ndarray,
    counts: np.ndarray,
    max_depth: int,
    max_size: int,
) -> Quadtree:
    """Construct the flat quadtree from (distinct full-resolution cell
    key, point count) pairs — the construction only ever consumes
    counts, so this is the distributed entry point: aggregate per-cell
    counts with one groupBy at any scale, then build the (small) node
    table from the histogram.  ``cell_keys`` must be sorted ascending.
    """
    cell_keys = np.asarray(cell_keys, dtype=np.uint32)
    counts = np.asarray(counts, dtype=np.int64)

    # --- bottom-up: per-level (key -> point_count, child_count) tables ---
    # level max_depth-1 nodes are the distinct full-resolution point keys
    level_keys: list[np.ndarray] = [None] * max_depth
    level_pcount: list[np.ndarray] = [None] * max_depth
    level_ccount: list[np.ndarray] = [None] * max_depth

    ks = cell_keys
    level_keys[max_depth - 1] = ks
    level_pcount[max_depth - 1] = counts.astype(np.int64)
    level_ccount[max_depth - 1] = np.zeros(len(ks), dtype=np.int64)

    for lvl in range(max_depth - 2, -1, -1):
        child_keys = level_keys[lvl + 1]
        parent = child_keys >> np.uint32(2)
        pk, idx, ccnt = np.unique(parent, return_index=True, return_counts=True)
        # point count of parent = segmented sum of child point counts
        pcnt = np.add.reduceat(level_pcount[lvl + 1], idx)
        level_keys[lvl] = pk
        level_pcount[lvl] = pcnt
        level_ccount[lvl] = ccnt.astype(np.int64)

    # --- top-down prune: keep nodes whose parent is internal ---
    keep_keys, keep_levels = [], []
    keep_pcount, keep_ccount, keep_internal = [], [], []
    # level 0: all nonempty root quadrants are kept
    parent_internal_keys = None  # keys (at level L-1) of internal parents
    for lvl in range(max_depth):
        ks = level_keys[lvl]
        pc = level_pcount[lvl]
        cc = level_ccount[lvl]
        if lvl > 0:
            mask = np.isin(ks >> np.uint32(2), parent_internal_keys)
            ks, pc, cc = ks[mask], pc[mask], cc[mask]
        internal = (pc > max_size) & (lvl < max_depth - 1)
        keep_keys.append(ks)
        keep_levels.append(np.full(len(ks), lvl, dtype=np.uint8))
        keep_pcount.append(pc)
        keep_ccount.append(cc)
        keep_internal.append(internal)
        parent_internal_keys = ks[internal]
        if len(parent_internal_keys) == 0 and lvl < max_depth - 1:
            # nothing to descend into; stop early
            break

    key = np.concatenate(keep_keys).astype(np.uint32)
    level = np.concatenate(keep_levels)
    pcount = np.concatenate(keep_pcount)
    ccount = np.concatenate(keep_ccount)
    internal = np.concatenate(keep_internal)

    # --- lengths ---
    length = np.where(internal, ccount, pcount).astype(np.uint32)

    # --- leaf offsets: exclusive scan of leaf point counts in
    #     flattened-key order (phase_2.cuh flatten_point_keys) ---
    offset = np.zeros(len(key), dtype=np.int64)
    leaf_mask = ~internal
    shift = (2 * (max_depth - 1 - level[leaf_mask].astype(np.int64))).astype(np.uint32)
    flat_keys = key[leaf_mask].astype(np.uint32) << shift
    order = np.argsort(flat_keys, kind="stable")
    leaf_counts_sorted = pcount[leaf_mask][order]
    leaf_offsets_sorted = np.concatenate(([0], np.cumsum(leaf_counts_sorted)[:-1]))
    leaf_offsets = np.empty(len(order), dtype=np.int64)
    leaf_offsets[order] = leaf_offsets_sorted
    offset[leaf_mask] = leaf_offsets

    # --- internal offsets: exclusive scan of (internal ? child_count : 0)
    #     over table order, seeded with the level-0 node count ---
    level_1_size = int((level == 0).sum())
    contrib = np.where(internal, ccount, 0)
    offset[internal] = (level_1_size + np.concatenate(([0], np.cumsum(contrib)[:-1])))[internal]

    return Quadtree(
        key=key,
        level=level.astype(np.uint8),
        is_internal_node=internal,
        length=length,
        offset=offset.astype(np.uint32),
    )


def join_quadtree_and_bounding_boxes(
    qt: Quadtree,
    bbox_min_x: np.ndarray,
    bbox_min_y: np.ndarray,
    bbox_max_x: np.ndarray,
    bbox_max_y: np.ndarray,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
):
    """Filter phase of the spatial join: BFS the quadtree against all
    bounding boxes; returns (bbox_offset, quad_offset) index pair arrays
    stable-sorted by leaf point offset (reference ordering,
    quadtree_bbox_filtering.cuh:166-180).
    """
    x_min, x_max, y_min, y_max, scale = clamp_scale(
        x_min, x_max, y_min, y_max, scale, max_depth
    )
    n_boxes = len(bbox_min_x)
    n_top = int((qt.level == 0).sum())
    if n_top == 0 or n_boxes == 0:
        return (np.zeros(0, dtype=np.uint32), np.zeros(0, dtype=np.uint32))

    bminx = np.asarray(bbox_min_x, dtype=np.float64)
    bminy = np.asarray(bbox_min_y, dtype=np.float64)
    bmaxx = np.asarray(bbox_max_x, dtype=np.float64)
    bmaxy = np.asarray(bbox_max_y, dtype=np.float64)

    # initial pair space: bbox-major over top-level nodes
    node_idx = np.tile(np.arange(n_top, dtype=np.int64), n_boxes)
    bbox_idx = np.repeat(np.arange(n_boxes, dtype=np.int64), n_top)

    out_nodes, out_boxes = [], []
    for _level in range(max_depth):
        if len(node_idx) == 0:
            break
        key = qt.key[node_idx].astype(np.uint32)
        lvl = qt.level[node_idx].astype(np.int64)
        kx = z_order_x(key).astype(np.float64)
        ky = z_order_y(key).astype(np.float64)
        level_scale = scale * (1 << (max_depth - 1 - lvl)).astype(np.float64)
        nxmin = x_min + kx * level_scale
        nymin = y_min + ky * level_scale
        nxmax = x_min + (kx + 1) * level_scale
        nymax = y_min + (ky + 1) * level_scale

        overlap = ~(
            (nxmin > bmaxx[bbox_idx])
            | (nxmax < bminx[bbox_idx])
            | (nymin > bmaxy[bbox_idx])
            | (nymax < bminy[bbox_idx])
        )
        is_internal = qt.is_internal_node[node_idx]
        leaf_hit = overlap & ~is_internal
        parent_hit = overlap & is_internal

        out_nodes.append(node_idx[leaf_hit])
        out_boxes.append(bbox_idx[leaf_hit])

        # descend: expand each internal hit to its children (consecutive
        # in the table starting at offset, length = child count)
        pn = node_idx[parent_hit]
        pb = bbox_idx[parent_hit]
        if len(pn) == 0:
            break
        counts = qt.length[pn].astype(np.int64)
        starts = qt.offset[pn].astype(np.int64)
        total = int(counts.sum())
        rel = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(counts)[:-1])), counts
        )
        node_idx = np.repeat(starts, counts) + rel
        bbox_idx = np.repeat(pb, counts)

    node_out = np.concatenate(out_nodes) if out_nodes else np.zeros(0, dtype=np.int64)
    bbox_out = np.concatenate(out_boxes) if out_boxes else np.zeros(0, dtype=np.int64)
    order = np.argsort(qt.offset[node_out], kind="stable")
    return (
        bbox_out[order].astype(np.uint32),
        node_out[order].astype(np.uint32),
    )
