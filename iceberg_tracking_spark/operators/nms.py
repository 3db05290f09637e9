"""Order-sensitive greedy operators (SURVEY §2.5 W3, W4, W7).

These are the reference's sequential algorithms whose results depend on
score-descending processing order with mutation of the candidate set —
not expressible as monotone relational ops (SURVEY §7.4). Each is a
numpy `keep` kernel behind `boundary.filter_groups`, keyed by frame:
frames are independent, so parallelism is across frames, each group is
small (detections of one frame), and the kept rows are the input rows
taken from the Arrow batch unchanged.

Determinism: Spark partitions are unordered, so every greedy loop pins
an explicit total order (score desc, then id asc) before processing —
replicating the reference's stable-sort behavior (detection.py:1246,
tracking.py:1108-1110) with an explicit tie-break. The order is one
`np.lexsort`, NaN last in every key and full ties in input order, which
is what pandas' `sort_values(kind="mergesort")` gave the former
applyInPandas versions.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from .boundary import Group, filter_groups

_BOX_COLS = ("bb_left", "bb_top", "bb_width", "bb_height")


class NonFiniteBoxError(ValueError):
    """A `bb_*` value is NaN or ±inf. Greedy suppression over such a box
    has no defined result (max/min with a NaN operand depends on
    argument order), so the operator refuses it."""


def _suppress(g: Group, id_col: str, op: str, drops) -> np.ndarray:
    """Greedy suppression in (conf desc, id asc) order: each box still
    alive drops every later alive box j for which
    `drops(inter, area_i, area_j)` holds (vectors over j). Returns the
    survivors' row positions; raises NonFiniteBoxError on a NaN/±inf
    box value."""
    cols = [np.asarray(g[c], dtype=float) for c in _BOX_COLS]
    for name, a in zip(_BOX_COLS, cols):
        if not np.isfinite(a).all():
            raise NonFiniteBoxError(f"{op}: {name} holds NaN or ±inf; boxes must be finite")
    order = np.lexsort((g[id_col], -np.asarray(g["conf"], dtype=float)))
    l, t, w, h = (a[order] for a in cols)
    x2, y2, area = l + w, t + h, w * h
    alive = np.ones(len(order), dtype=bool)
    for i in range(len(order)):
        if not alive[i]:
            continue
        rest = i + 1 + np.flatnonzero(alive[i + 1 :])
        # row i of the pairwise intersection matrix, same elementwise ops
        xa = np.maximum(l[i], l[rest])
        ya = np.maximum(t[i], t[rest])
        xb = np.minimum(x2[i], x2[rest])
        yb = np.minimum(y2[i], y2[rest])
        inter = np.clip(xb - xa, 0, None) * np.clip(yb - ya, 0, None)
        with np.errstate(divide="ignore", invalid="ignore"):
            alive[rest[drops(inter, area[i], area[rest])]] = False
    return order[alive]


def _nms_keep(g: Group, iou_threshold: float, id_col: str) -> np.ndarray:
    def over_iou(inter, area_i, area_j):
        union = area_i + area_j - inter
        return np.where(union > 0, inter / union, 0.0) > iou_threshold

    return _suppress(g, id_col, "nms", over_iou)


def _nested_keep(g: Group, containment_threshold: float, id_col: str) -> np.ndarray:
    def nested(inter, area_i, area_j):
        smaller = np.minimum(area_i, area_j)
        return ~((smaller <= 0) | (inter / smaller < containment_threshold))

    return _suppress(g, id_col, "remove_nested", nested)


def _greedy_keep(g: Group, left_col: str, right_col: str, score_col: str) -> list[int]:
    left, right = g[left_col], g[right_col]
    order = np.lexsort((right, left, -np.asarray(g[score_col], dtype=float)))
    used_l: set = set()
    used_r: set = set()
    keep = []
    for idx, lv, rv in zip(order.tolist(), left[order].tolist(), right[order].tolist()):
        if lv in used_l or rv in used_r:
            continue
        used_l.add(lv)
        used_r.add(rv)
        keep.append(idx)
    return keep


def nms(
    detections: DataFrame,
    iou_threshold: float = 0.45,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
    id_col: str = "obj_id",
) -> DataFrame:
    """Exact greedy non-maximum suppression per frame.

    Replicates reference detection.py:1223-1261: sort by conf desc
    (tie: id asc, NaN conf last), repeatedly keep the best and drop
    every remaining box with IoU > threshold against it. Each survivor's
    IoU row is computed against the boxes still alive after it, with
    the elementwise float ops of a full pairwise IoU matrix, so every
    comparison is bit-identical to it. Output schema = input schema. A
    NaN/±inf `bb_*` value raises NonFiniteBoxError.
    """
    keep = partial(_nms_keep, iou_threshold=iou_threshold, id_col=id_col)
    return filter_groups(detections, group_cols, keep)


def remove_nested(
    detections: DataFrame,
    containment_threshold: float = 0.75,
    conf_split: float = 0.5,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
    id_col: str = "obj_id",
) -> DataFrame:
    """Nested-box removal with confidence classes.

    Replicates reference detection.py:1120-1198: when the intersection /
    smaller-box-area ratio ≥ threshold (tested as `not ratio <
    threshold`), drop one box per precedence — a high-confidence box
    (conf ≥ conf_split) always beats a low-confidence one; among
    same-class boxes the higher score wins (processing order: conf
    desc, id asc, NaN conf last).

    In that order the earlier box of any pair never has a lower class
    than the later one (class is monotone in conf, and a NaN conf is
    low-class and sorted last), so the rule reduces to "each surviving
    box drops every later box nested with it": the reference's "later
    box wins" branch is unreachable and `conf_split` cannot change the
    result. Output schema = input schema. A NaN/±inf `bb_*` value
    raises NonFiniteBoxError.
    """
    keep = partial(
        _nested_keep, containment_threshold=containment_threshold, id_col=id_col
    )
    return filter_groups(detections, group_cols, keep)


def greedy_assignment(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str,
    group_cols: tuple[str, ...] = ("sequence", "frame"),
) -> DataFrame:
    """Global greedy 1:1 assignment per frame.

    Replicates reference _matching_pure_greedy (tracking.py:1037-1133):
    sort candidate pairs by score desc (tie: left id, right id; NaN
    last), assign greedily skipping already-used left/right ids.
    """
    keep = partial(
        _greedy_keep, left_col=left_col, right_col=right_col, score_col=score_col
    )
    return filter_groups(pairs, group_cols, keep)
