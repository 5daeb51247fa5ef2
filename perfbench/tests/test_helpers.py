"""Tests of the benchmark's own helpers. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from driver import expected_state  # noqa: E402
from probe import resident_outside  # noqa: E402
from stats import (  # noqa: E402
    agree,
    fail_ratio,
    percentile,
    self_time,
    spread,
    steal_share,
    union_length,
)
from trace import Tracer  # noqa: E402


# -- percentile rule: at least ten samples beyond the reported rank ---------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1, 21)), 0.5) == 10  # 10 beyond
    with pytest.raises(ValueError):
        percentile(list(range(1, 20)), 0.5)  # 9 beyond
    assert percentile(list(range(1, 101)), 0.9) == 90
    with pytest.raises(ValueError):
        percentile(list(range(1, 100)), 0.9)


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert percentile(xs, 0.5) == 3.0


def test_percentile_rejects_bad_quantile():
    with pytest.raises(ValueError):
        percentile([1.0] * 50, 1.0)


# -- self time: span minus the union of its children ------------------------


def test_union_merges_overlaps():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    # parallel children (1-3, 2-5) cover 4 s; the last child is clipped at 10
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == 4


def test_self_time_ignores_children_outside_span():
    assert self_time((0, 10), [(11, 12), (-3, -1)]) == 10


# -- fail ratio ------------------------------------------------------------


def test_fail_ratio():
    assert fail_ratio(0, 10) == 0
    assert fail_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(5, 4)


def test_agree_and_spread():
    assert agree(1.0, 1.09, 0.1)
    assert not agree(1.0, 1.2, 0.1)
    assert spread([1.0] * 9 + [2.0]) == 0


# -- inputs: one seed, byte-identical files --------------------------------


def _digests(root: Path) -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(root.iterdir())
    }


def test_resident_outside_leaves_out_only_the_range():
    pid = os.getpid()
    whole = resident_outside(pid, 0, 0)  # an empty range leaves out nothing
    assert whole > 0
    assert resident_outside(pid, 0, 1 << 64) == 0
    # leaving out the mappings above some address drops part, not all
    with open(f"/proc/{pid}/maps") as fh:
        starts = sorted(int(line.split("-", 1)[0], 16) for line in fh)
    mid = starts[len(starts) // 2]
    assert 0 < resident_outside(pid, mid, 1 << 64) < whole


def test_query_tables_are_byte_identical_per_seed(tmp_path):
    a = _digests(Path(datagen.write_query_tables(str(tmp_path / "a"), seed=7)))
    b = _digests(Path(datagen.write_query_tables(str(tmp_path / "b"), seed=7)))
    c = _digests(Path(datagen.write_query_tables(str(tmp_path / "c"), seed=8)))
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_cdc_backlog_is_byte_identical_per_seed(tmp_path):
    a = _digests(Path(datagen.cdc_backlog(str(tmp_path / "a"), 3, 4, 50)[0]).parent)
    b = _digests(Path(datagen.cdc_backlog(str(tmp_path / "b"), 3, 4, 50)[0]).parent)
    assert len(a) == 4
    assert a == b


# -- the cdc_drain ground truth ----------------------------------------------


def _event(eid, etype, uid, ts):
    return {"event_id": eid, "event_type": etype, "partition_key": {"user_id": uid},
            "timestamp_micros": ts}


def _key(uid):
    return hashlib.sha256(json.dumps({"user_id": uid}).replace(" ", "").encode()).hexdigest()


def test_expected_state_latest_wins_deletes_and_malformed(tmp_path):
    f = tmp_path / "seg.json"
    lines = [
        json.dumps(_event("e1", "INSERT", "u1", 1)),
        json.dumps(_event("e1", "INSERT", "u1", 1)),  # duplicate delivery
        json.dumps(_event("e2", "INSERT", "u2", 2)),
        '{"event_id": "broken", "event_type": INVALID}',
        json.dumps(_event("e3", "DELETE", "u2", 3)),
        json.dumps(_event("e4", "UPDATE", "u3", 4)),
    ]
    f.write_text("\n".join(lines) + "\n")
    keys, malformed = expected_state([str(f)])
    assert keys == {_key("u1"), _key("u3")}
    assert malformed == 1


# -- tracer ----------------------------------------------------------------


def test_tracer_parents_pool_thread_spans_to_root():
    tracer = Tracer()

    class Pipeline:
        def process(self, batch, batch_id):
            t = threading.Thread(target=self.write)
            t.start()
            t.join(timeout=5)
            return batch

        def write(self):
            return None

    p = Pipeline()
    tracer.wrap(p, "process", "process", trace_arg=1, root=True)
    tracer.wrap(p, "write", "write")
    p.process("rows", 0)  # tracing off: nothing recorded
    assert tracer.spans == []
    tracer.enabled = True
    p.process("rows", 7)
    root = tracer.named("process")[0]
    child = tracer.named("write")[0]
    assert child.parent == root.id
    assert root.trace == child.trace == "process:7"
    assert root.start <= child.start <= child.end <= root.end


# -- steal share: the part of wanted CPU time the hypervisor took -----------


def test_steal_share():
    assert steal_share((100, 5), (180, 25)) == pytest.approx(0.2)  # 20 of 100
    assert steal_share((100, 5), (180, 5)) == 0.0
    assert steal_share((100, 5), (100, 5)) == 0.0  # no ticks at all
