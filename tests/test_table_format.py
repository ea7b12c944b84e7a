"""Manifest guarantees (kgspark/sources/manifests.py).

These are the guarantees plans/pipeline.py assumes when it resumes
from a snapshot: atomic commit, idempotent
re-commit, summary/reserved-key rules, pending-bucket diff semantics and
per-stage independence. A reimplementation of ``manifests.py`` (on an
Iceberg catalog, say) must keep every one of them.

No SparkSession involved: the manifests are metadata-only by design
(data writes go through the normal DataFrame writers above them).
"""

from __future__ import annotations

import json
import os

import pytest

from kgspark.sources import manifests


@pytest.fixture(params=["manifest"])
def out(tmp_path):
    """A stage output directory. The one-value parametrization keeps
    each test's ``[manifest]`` id stable."""
    return str(tmp_path)


def test_read_snapshot_none_before_any_commit(out):
    assert manifests.read_manifest(out, "extract") is None


def test_whole_stage_commit_round_trips_summary(out):
    manifests.commit_stage(out, "extract", "snap-1", {"rows": 42, "conf": {"k": 1}})
    m = manifests.read_manifest(out, "extract")
    assert m is not None
    assert m["stage"] == "extract"
    assert m["snapshot"] == "snap-1"
    assert m["rows"] == 42
    assert m["conf"] == {"k": 1}


def test_pending_buckets_full_list_without_manifest(out):
    assert manifests.pending_buckets(out, "triples", "snap-1", [0, 1, 2]) == [0, 1, 2]


def test_pending_buckets_diff_and_snapshot_reset(out):
    manifests.record_buckets(out, "triples", "snap-1", {0: 10, 2: 5})
    # diff: only uncommitted buckets remain, order preserved
    assert manifests.pending_buckets(out, "triples", "snap-1", [0, 1, 2, 3]) == [1, 3]
    # a NEW input snapshot invalidates all prior progress
    assert manifests.pending_buckets(out, "triples", "snap-2", [0, 1, 2, 3]) == [0, 1, 2, 3]


def test_bucket_commits_accumulate(out):
    manifests.record_buckets(out, "triples", "snap-1", {0: 10})
    manifests.record_buckets(out, "triples", "snap-1", {1: 7})
    assert manifests.pending_buckets(out, "triples", "snap-1", [0, 1, 2]) == [2]
    m = manifests.read_manifest(out, "triples")
    assert m["rows"] == {"0": 10, "1": 7} or m["rows"] == {0: 10, 1: 7}


def test_bucket_recommit_is_idempotent(out):
    manifests.record_buckets(out, "triples", "snap-1", {0: 10, 1: 7})
    before = manifests.read_manifest(out, "triples")
    # a retried task re-commits bucket 1 with the same counts — the
    # committed state must not change (resume safety after a crash
    # between data write and manifest ack)
    manifests.record_buckets(out, "triples", "snap-1", {1: 7})
    assert manifests.read_manifest(out, "triples") == before
    assert manifests.pending_buckets(out, "triples", "snap-1", [0, 1, 2]) == [2]


def test_summary_keys_survive_bucket_only_commits(out):
    """Non-reserved summary keys stamped by one commit carry forward
    through later bucket-only commits — the manifest 'loses nothing'
    over its life on a snapshot, not per call."""
    manifests.record_buckets(
        out, "triples", "snap-1", {0: 10},
        conf={"n_buckets": 4}, extra={"input_rows": 99},
    )
    manifests.record_buckets(out, "triples", "snap-1", {1: 7})
    m = manifests.read_manifest(out, "triples")
    assert m["conf"] == {"n_buckets": 4}
    assert m["input_rows"] == 99
    assert sorted(m["buckets_done"]) == [0, 1]


def test_reserved_keys_cannot_be_overridden_by_summary(out):
    manifests.record_buckets(
        out, "triples", "snap-1", {0: 10},
        extra={"snapshot": "EVIL", "buckets_done": [9], "rows": {"9": 1}},
    )
    m = manifests.read_manifest(out, "triples")
    assert m["snapshot"] == "snap-1"
    assert m["buckets_done"] == [0]
    assert m["rows"] == {"0": 10}
    assert manifests.pending_buckets(out, "triples", "snap-1", [0, 9]) == [9]


def test_commit_is_atomic_under_crash_before_publish(out, monkeypatch):
    """A crash between writing new state and publishing it leaves the
    OLD snapshot readable. The publish is an os.replace of a sidecar;
    we simulate the crash by planting the torn temp file a died writer
    would leave and asserting reads ignore it, and by killing a real
    commit halfway through its write."""
    manifests.commit_stage(out, "extract", "snap-1", {"rows": 42})
    before = manifests.read_manifest(out, "extract")
    torn = os.path.join(out, "_manifests", "extract.json.tmp")
    with open(torn, "w", encoding="utf-8") as f:
        f.write('{"stage": "extract", "snapshot": "snap-2", "rows": ')
    assert manifests.read_manifest(out, "extract") == before

    def dies_mid_write(payload, f, **kwargs):
        f.write(json.dumps(payload)[:10])
        raise OSError("killed")

    with monkeypatch.context() as m:
        m.setattr(manifests.json, "dump", dies_mid_write)
        with pytest.raises(OSError, match="killed"):
            manifests.commit_stage(out, "extract", "snap-2", {"rows": 50})
    assert manifests.read_manifest(out, "extract") == before
    # and a subsequent real commit still succeeds over the debris
    manifests.commit_stage(out, "extract", "snap-2", {"rows": 50})
    assert manifests.read_manifest(out, "extract")["snapshot"] == "snap-2"


def test_manifest_sidecar_is_valid_json(tmp_path):
    """The sidecar is human-readable JSON (ops can inspect lineage with
    cat), published via temp-file + rename."""
    out = str(tmp_path)
    manifests.commit_stage(out, "graph", "snap-1", {"rows": 1})
    path = os.path.join(out, "_manifests", "graph.json")
    with open(path, encoding="utf-8") as f:
        m = json.load(f)
    assert m["snapshot"] == "snap-1"


def test_stages_are_independent(out):
    manifests.commit_stage(out, "extract", "snap-A", {"rows": 1})
    manifests.record_buckets(out, "triples", "snap-B", {0: 2})
    assert manifests.read_manifest(out, "extract")["snapshot"] == "snap-A"
    assert manifests.read_manifest(out, "triples")["snapshot"] == "snap-B"
    assert manifests.pending_buckets(out, "extract", "snap-A", [0]) == [0]
