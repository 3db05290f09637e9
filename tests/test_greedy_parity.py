"""Parity harness: the numpy greedy kernels behind `filter_groups` must
select EXACTLY the rows the former per-frame applyInPandas functions
selected.

`_ref_nms_group`, `_ref_nested_group` and `_ref_greedy_group` below are
frozen, line-for-line copies of the pandas group functions that
`nms`, `remove_nested` and `greedy_assignment` ran before they moved to
numpy kernels. Every input row carries a unique `rid`; the tests
compare the selected `rid` sets.

Two levels are checked:
- the kernels themselves, on one group at a time in one fixed row
  order, so full ties (same conf AND same id) are decided by the same
  input order on both sides;
- the Spark operators end to end, against the frozen functions run
  per group in pandas, including null group keys and groups that span
  several Arrow batches. These inputs keep (conf, id) — and (score,
  left, right) — unique within a group, because Spark delivers a
  group's rows in no fixed order and a full tie would then be decided
  by delivery order.

Scenarios: conf/score ties, duplicate ids, zero-area boxes, NaN conf,
single-row groups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from iceberg_tracking_spark.operators.boundary import Group
from iceberg_tracking_spark.operators.nms import (
    NonFiniteBoxError,
    _greedy_keep,
    _nested_keep,
    _nms_keep,
    greedy_assignment,
    nms,
    remove_nested,
)

IOU_THR, NEST_THR, CONF_SPLIT = 0.45, 0.75, 0.5
DET_COLS = ["rid", "sequence", "frame", "obj_id",
            "bb_left", "bb_top", "bb_width", "bb_height", "conf"]
PAIR_COLS = ["rid", "sequence", "frame", "gt_id", "det_id", "score"]


# ---- frozen pre-change pandas group functions -------------------------

def _ref_iou_matrix(boxes: np.ndarray) -> np.ndarray:
    l, t, w, h = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    x1, y1, x2, y2 = l, t, l + w, t + h
    area = w * h
    xa = np.maximum(x1[:, None], x1[None, :])
    ya = np.maximum(y1[:, None], y1[None, :])
    xb = np.minimum(x2[:, None], x2[None, :])
    yb = np.minimum(y2[:, None], y2[None, :])
    inter = np.clip(xb - xa, 0, None) * np.clip(yb - ya, 0, None)
    union = area[:, None] + area[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union > 0, inter / union, 0.0)
    return iou


def _ref_nms_group(pdf, iou_threshold=IOU_THR, id_col="obj_id"):
    pdf = pdf.sort_values(
        ["conf", id_col], ascending=[False, True], kind="mergesort"
    ).reset_index(drop=True)
    boxes = pdf[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
    iou = _ref_iou_matrix(boxes)
    n = len(pdf)
    alive = np.ones(n, dtype=bool)
    keep = []
    for i in range(n):
        if not alive[i]:
            continue
        keep.append(i)
        alive[iou[i] > iou_threshold] = False
        alive[i] = False
    return pdf.iloc[keep]


def _ref_nested_group(pdf, containment_threshold=NEST_THR, conf_split=CONF_SPLIT,
                      id_col="obj_id"):
    pdf = pdf.sort_values(
        ["conf", id_col], ascending=[False, True], kind="mergesort"
    ).reset_index(drop=True)
    boxes = pdf[["bb_left", "bb_top", "bb_width", "bb_height"]].to_numpy(float)
    conf = pdf["conf"].to_numpy(float)
    area = boxes[:, 2] * boxes[:, 3]
    l, t = boxes[:, 0], boxes[:, 1]
    x2, y2 = l + boxes[:, 2], t + boxes[:, 3]
    n = len(pdf)
    alive = np.ones(n, dtype=bool)
    for i in range(n):  # i = higher precedence (sorted first)
        if not alive[i]:
            continue
        for j in range(i + 1, n):
            if not alive[j]:
                continue
            xa, ya = max(l[i], l[j]), max(t[i], t[j])
            xb, yb = min(x2[i], x2[j]), min(y2[i], y2[j])
            inter = max(xb - xa, 0.0) * max(yb - ya, 0.0)
            smaller = min(area[i], area[j])
            if smaller <= 0 or inter / smaller < containment_threshold:
                continue
            hi_i, hi_j = conf[i] >= conf_split, conf[j] >= conf_split
            if hi_i and not hi_j:
                alive[j] = False
            elif hi_j and not hi_i:
                alive[i] = False
            else:
                alive[j] = False  # same class → earlier (higher conf) wins
            if not alive[i]:
                break
    return pdf.iloc[np.flatnonzero(alive)]


def _ref_greedy_group(pdf, left_col="gt_id", right_col="det_id", score_col="score"):
    pdf = pdf.sort_values(
        [score_col, left_col, right_col],
        ascending=[False, True, True],
        kind="mergesort",
    )
    used_l: set = set()
    used_r: set = set()
    keep = []
    for idx, row in enumerate(pdf.itertuples(index=False)):
        lv = getattr(row, left_col)
        rv = getattr(row, right_col)
        if lv in used_l or rv in used_r:
            continue
        used_l.add(lv)
        used_r.add(rv)
        keep.append(idx)
    return pdf.iloc[keep]


# ---- inputs -------------------------------------------------------------

def _random_dets(rng, n_frames, *, seq="s", unique_conf_id=False):
    """Detections in overlapping clumps. conf on a 0.1 grid (ties),
    duplicate obj_ids, zero-area boxes, NaN conf and single-row frames;
    with `unique_conf_id` every obj_id is distinct, so no two rows of
    a group tie on (conf, obj_id), even where null keys merge frames."""
    rows = []
    for f in range(n_frames):
        n = 1 if f % 5 == 0 else int(rng.integers(2, 25))
        centers = rng.uniform(0, 400, size=(3, 2))
        for k in range(n):
            cx, cy = centers[k % 3] + rng.normal(0, 8, size=2)
            w, h = rng.uniform(10, 60, size=2)
            if rng.random() < 0.1:
                w = 0.0
            conf = float(rng.integers(0, 11)) / 10.0
            if rng.random() < 0.1:
                conf = float("nan")
            oid = f * 100 + k if unique_conf_id else int(rng.integers(0, 6))
            rows.append((seq, f, oid, cx - w / 2, cy - h / 2, w, h, conf))
    pdf = pd.DataFrame(rows, columns=DET_COLS[1:])
    pdf.insert(0, "rid", np.arange(len(pdf), dtype=np.int64))
    return pdf


def _random_pairs(rng, n_frames, *, unique=False):
    """Candidate pairs with scores on a 0.1 grid (ties) and repeated
    gt/det ids; with `unique` each (gt_id, det_id) appears once, det
    ids differing across frames."""
    rows = []
    for f in range(n_frames):
        n = 1 if f % 5 == 0 else int(rng.integers(2, 30))
        seen = set()
        for _ in range(n):
            g, d = int(rng.integers(0, 5)), int(rng.integers(0, 8))
            if unique:
                if (g, d) in seen:
                    continue
                seen.add((g, d))
                d += 10 * f
            rows.append(("s", f, g, d, float(rng.integers(0, 11)) / 10.0))
    pdf = pd.DataFrame(rows, columns=PAIR_COLS[1:])
    pdf.insert(0, "rid", np.arange(len(pdf), dtype=np.int64))
    return pdf


def _group(pdf: pd.DataFrame) -> Group:
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    return Group(batch, {}, 0, batch.num_rows)


KERNELS = {
    "nms": (_ref_nms_group,
            lambda g: _nms_keep(g, iou_threshold=IOU_THR, id_col="obj_id")),
    "nested": (_ref_nested_group,
               lambda g: _nested_keep(g, containment_threshold=NEST_THR, id_col="obj_id")),
}


# ---- kernel level: one group, fixed row order ---------------------------

@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("op", sorted(KERNELS))
def test_box_kernels_match_frozen(op, seed):
    ref, kernel = KERNELS[op]
    pdf = _random_dets(np.random.default_rng(seed), 40)
    for _, g in pdf.groupby("frame"):
        g = g.reset_index(drop=True)
        want = set(ref(g)["rid"])
        got = set(g["rid"].to_numpy()[kernel(_group(g))])
        assert got == want


@pytest.mark.parametrize("seed", range(6))
def test_greedy_kernel_matches_frozen(seed):
    pdf = _random_pairs(np.random.default_rng(seed), 40)
    for _, g in pdf.groupby("frame"):
        g = g.reset_index(drop=True)
        want = set(_ref_greedy_group(g)["rid"])
        got = set(g["rid"].to_numpy()[_greedy_keep(_group(g), "gt_id", "det_id", "score")])
        assert got == want


def test_nested_kernel_class_precedence():
    """A small high-conf box inside a big low-conf one: the big box goes
    (sorted after), including with NaN conf on the big box."""
    for big_conf in (0.4, float("nan")):
        g = pd.DataFrame(
            [(0, "s", 1, 1, 0.0, 0.0, 100.0, 100.0, big_conf),
             (1, "s", 1, 2, 10.0, 10.0, 20.0, 20.0, 0.9)],
            columns=DET_COLS,
        )
        assert set(_ref_nested_group(g)["rid"]) == {1}
        assert _nested_keep(_group(g), NEST_THR, "obj_id").tolist() == [1]


def test_box_kernels_at_exact_thresholds():
    """IoU exactly 0.45 does not suppress (IoU > threshold); containment
    exactly 0.75 does (not ratio < threshold)."""
    at_iou = pd.DataFrame(
        [(0, "s", 1, 1, 0.0, 0.0, 10.0, 1.0, 0.9),   # area 10
         (1, "s", 1, 2, 1.0, 0.0, 19.0, 1.0, 0.8)],  # inter 9, union 20
        columns=DET_COLS,
    )
    assert set(_ref_nms_group(at_iou)["rid"]) == {0, 1}
    assert sorted(KERNELS["nms"][1](_group(at_iou)).tolist()) == [0, 1]
    at_nest = pd.DataFrame(
        [(0, "s", 1, 1, 0.0, 0.0, 4.0, 4.0, 0.9),
         (1, "s", 1, 2, 1.0, 0.0, 4.0, 4.0, 0.8)],  # inter 12 of 16
        columns=DET_COLS,
    )
    assert set(_ref_nested_group(at_nest)["rid"]) == {0}
    assert KERNELS["nested"][1](_group(at_nest)).tolist() == [0]


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -float("inf")])
@pytest.mark.parametrize("col", ["bb_left", "bb_height"])
@pytest.mark.parametrize("op", sorted(KERNELS))
def test_box_kernels_reject_non_finite_boxes(op, col, bad):
    pdf = _random_dets(np.random.default_rng(0), 4)
    pdf.loc[1, col] = bad
    with pytest.raises(NonFiniteBoxError, match=col):
        KERNELS[op][1](_group(pdf))


def test_nms_keeps_nan_conf_last():
    """NaN conf sorts after every number: the NaN box is suppressed by
    an overlapping box of any conf, and survives only where it overlaps
    nothing kept."""
    g = pd.DataFrame(
        [(0, "s", 1, 1, 0.0, 0.0, 10.0, 10.0, float("nan")),
         (1, "s", 1, 2, 1.0, 0.0, 10.0, 10.0, 0.0),
         (2, "s", 1, 3, 50.0, 0.0, 10.0, 10.0, float("nan"))],
        columns=DET_COLS,
    )
    assert set(_ref_nms_group(g)["rid"]) == {1, 2}
    assert sorted(_nms_keep(_group(g), IOU_THR, "obj_id").tolist()) == [1, 2]


# ---- Spark end to end ----------------------------------------------------

def _expected(pdf, keys, ref):
    want = set()
    for _, g in pdf.groupby(keys, dropna=False):
        want |= set(ref(g.reset_index(drop=True))["rid"])
    return want


def _rids(df):
    return {r["rid"] for r in df.select("rid").collect()}


def _det_frame(spark, pdf):
    return spark.createDataFrame(
        pdf,
        "rid long, sequence string, frame long, obj_id int, bb_left double, "
        "bb_top double, bb_width double, bb_height double, conf double",
    )


def _with_null_keys(pdf):
    """Move some frames to a null sequence and some to a null frame, so
    null keys form groups of their own (and meet non-null ones)."""
    pdf = pdf.astype({"frame": "object"})
    pdf.loc[pdf["frame"].isin([1, 2]), "sequence"] = None
    pdf.loc[pdf["frame"].isin([3, 4]), "frame"] = None
    return pdf


@pytest.mark.parametrize("seed", [0, 1])
def test_spark_operators_match_frozen(spark, seed):
    rng = np.random.default_rng(seed)
    dets = _with_null_keys(_random_dets(rng, 30, unique_conf_id=True))
    keys = ["sequence", "frame"]
    df = _det_frame(spark, dets)
    assert _rids(nms(df, iou_threshold=IOU_THR)) == _expected(dets, keys, _ref_nms_group)
    assert _rids(
        remove_nested(df, containment_threshold=NEST_THR, conf_split=CONF_SPLIT)
    ) == _expected(dets, keys, _ref_nested_group)

    pairs = _with_null_keys(_random_pairs(rng, 30, unique=True))
    pdf = spark.createDataFrame(
        pairs, "rid long, sequence string, frame long, gt_id int, det_id int, score double"
    )
    got = _rids(greedy_assignment(pdf, "gt_id", "det_id", "score"))
    assert got == _expected(pairs, keys, _ref_greedy_group)


def test_spark_groups_spanning_arrow_batches(spark):
    """With 7-row Arrow batches, frames of up to 24 rows are carried
    across several batches before their kernel runs."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        rng = np.random.default_rng(7)
        dets = pd.concat(
            [_random_dets(rng, 6, seq=s, unique_conf_id=True) for s in "ab"],
            ignore_index=True,
        )
        dets["rid"] = np.arange(len(dets), dtype=np.int64)
        df = _det_frame(spark, dets).repartition(3)
        sizes = df.mapInArrow(
            lambda it: (pa.RecordBatch.from_pydict({"n": [b.num_rows]}) for b in it),
            "n long",
        ).collect()
        assert max(r["n"] for r in sizes) <= 7
        keys = ["sequence", "frame"]
        assert _rids(nms(df, iou_threshold=IOU_THR)) == _expected(
            dets, keys, _ref_nms_group
        )
        assert _rids(remove_nested(df, containment_threshold=NEST_THR)) == _expected(
            dets, keys, _ref_nested_group
        )
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("op", [nms, remove_nested])
def test_spark_operators_reject_non_finite_boxes(spark, op):
    pdf = _random_dets(np.random.default_rng(1), 3, unique_conf_id=True)
    pdf.loc[0, "bb_width"] = float("inf")
    with pytest.raises(Exception, match="NonFiniteBoxError"):
        op(_det_frame(spark, pdf)).collect()
