"""Streaming stateful tracker keyed by sequence (SURVEY §2.9 T1-T6,
streaming form): `streaming_track` uses `applyInPandasWithState`;
`streaming_track_tws` is the same logic on Spark 4's arbitrary-state v2
API (`transformWithStateInPandas`), gated behind an import check
because its Python side requires `protobuf` (absent in this container).

The batch tracker's frame loop (tracker/batch.py track_frames, over
SequenceTracker.step) is reused verbatim; this module only adds state
(de)serialization so the tracker survives across micro-batches. State = (next_id, per-track
flattened Kalman state) as plain Spark rows — no pickling, so state is
portable across executors and restarts.

Frames must arrive in order within a micro-batch source (e.g. a file
source with maxFilesPerTrigger=1 over frame-ordered files, or a Kafka
topic partitioned by sequence). Late frames within a batch are sorted;
cross-batch late frames are dropped by construction — the batch job is
the replay path, matching the reference's batch-only semantics.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..tracker.batch import (
    TRACKS_OUT_SCHEMA,
    SequenceTracker,
    TrackerConfig,
    _Track,
    track_frames,
)
from ..tracker.kalman import KalmanBoxTracker, STATE_DIM

# next_id + per-track: (track_id, time_since_update, hits, x[6], P[36])
STATE_SCHEMA = (
    "next_id int, track_ids array<int>, tsu array<int>, hits array<int>, "
    "xs array<double>, ps array<double>"
)


def _tracker_to_state(tracker: SequenceTracker) -> tuple:
    xs: list[float] = []
    ps: list[float] = []
    for tr in tracker.tracks:
        xs.extend(tr.kf.x.tolist())
        ps.extend(tr.kf.P.flatten().tolist())
    return (
        tracker.next_id,
        [tr.track_id for tr in tracker.tracks],
        [tr.time_since_update for tr in tracker.tracks],
        [tr.hits for tr in tracker.tracks],
        xs,
        ps,
    )


def _tracker_from_state(state_tuple: tuple, cfg: TrackerConfig) -> SequenceTracker:
    tracker = SequenceTracker(cfg)
    next_id, track_ids, tsu, hits, xs, ps = state_tuple
    tracker.next_id = next_id
    n = len(track_ids or [])
    for i in range(n):
        kf = KalmanBoxTracker(0, 0, 0, 0)
        kf.x = np.array(xs[i * STATE_DIM : (i + 1) * STATE_DIM], dtype=np.float64)
        kf.P = np.array(ps[i * 36 : (i + 1) * 36], dtype=np.float64).reshape(6, 6)
        tracker.tracks.append(
            _Track(track_id=track_ids[i], kf=kf, time_since_update=tsu[i], hits=hits[i])
        )
    return tracker


def streaming_track(
    detections: DataFrame, config: TrackerConfig | None = None
) -> DataFrame:
    """Streaming tracking over a stream of detection rows.

    `detections` must be a streaming DataFrame with the canonical
    detections schema. Output = emitted track rows per micro-batch
    (append semantics, reference T6: only matched tracks emit).
    """
    cfg = config or TrackerConfig()

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tracker = (
            _tracker_from_state(state.get, cfg)
            if state.exists
            else SequenceTracker(cfg)
        )
        out = track_frames(tracker, key[0], pd.concat(list(pdfs), ignore_index=True))
        state.update(_tracker_to_state(tracker))
        yield out

    return detections.groupBy("sequence").applyInPandasWithState(
        _update,
        outputStructType=TRACKS_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_track_tws(
    detections: DataFrame, config: TrackerConfig | None = None
) -> DataFrame:
    """`streaming_track` on the arbitrary-state v2 API
    (`transformWithStateInPandas`, Spark ≥ 4.0): a StatefulProcessor
    holding the identical serialized tracker tuple in a ValueState.
    Requires the `protobuf` Python package (the v2 state protocol) and
    the RocksDB state store provider; raises ImportError with the
    missing dependency otherwise. Shares `_tracker_to_state` /
    `_tracker_from_state` with the v1 path so the two stay in lockstep.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the `protobuf` package "
            "(not in this container); use streaming_track "
            "(applyInPandasWithState) instead"
        ) from e
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    cfg = config or TrackerConfig()

    class _TrackerProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("tracker", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            tracker = (
                _tracker_from_state(tuple(self._state.get()), cfg)
                if self._state.exists()
                else SequenceTracker(cfg)
            )
            out = track_frames(
                tracker, key[0], pd.concat(list(rows), ignore_index=True)
            )
            self._state.update(_tracker_to_state(tracker))
            yield out

        def close(self) -> None:
            pass

    return detections.groupBy("sequence").transformWithStateInPandas(
        statefulProcessor=_TrackerProcessor(),
        outputStructType=TRACKS_OUT_SCHEMA,
        outputMode="append",
        timeMode="None",
    )
