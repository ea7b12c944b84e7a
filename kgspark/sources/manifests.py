"""Snapshot/manifest layer: Iceberg-style lineage without Iceberg jars.

The north_rule requires per-partition checkpoint manifests recording
lineage (input snapshot-id, partition range, counts) so any stage
resumes idempotently. No Iceberg runtime is available in-sandbox, so a
stage's output directory carries a ``_manifests/<stage>.json`` sidecar:

    {"stage": ..., "snapshot": <input snapshot id>,
     "buckets_done": [...], "rows": {bucket: count},
     "conf": {...}, "files": [[...], ...]}

(``files``, on the extract stage: the snapshot's source files per
appended segment, which tells an append snapshot from any other.)

Resume contract: a stage first reads its manifest; if the snapshot
matches, only buckets not in ``buckets_done`` are processed (anti-join
by bucket) and their partitions rewritten; on mismatch the stage output
is rebuilt, or, for an append snapshot, extended. Stages that run whole
(link, triples, graph) commit once with ``commit_stage``: ``{"stage",
"snapshot", **summary}``.

Every commit is one atomic ``os.replace`` of the sidecar, so a crash
leaves the previous manifest readable. plans/pipeline.py calls these
functions directly; moving to an Iceberg catalog means reimplementing
them (``read_manifest`` → the current snapshot's summary,
``pending_buckets`` → the committed partition diff, ``record_buckets``
→ ``overwritePartitions``, ``commit_stage`` → ``replaceTable``), with
tests/test_table_format.py as the guarantees to keep.
"""

from __future__ import annotations

import json
import os


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{stage}.json")


def read_manifest(out_dir: str, stage: str) -> dict | None:
    path = _manifest_path(out_dir, stage)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def write_manifest(out_dir: str, stage: str, payload: dict) -> None:
    path = _manifest_path(out_dir, stage)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic publish


def pending_buckets(
    out_dir: str, stage: str, snapshot: str, all_buckets: list[int]
) -> list[int]:
    """Buckets still to process for this (stage, snapshot)."""
    m = read_manifest(out_dir, stage)
    if m is None or m.get("snapshot") != snapshot:
        return list(all_buckets)
    done = set(m.get("buckets_done", []))
    return [b for b in all_buckets if b not in done]


def commit_stage(out_dir: str, stage: str, snapshot: str, summary: dict) -> None:
    """Commit a whole-stage result: ``summary`` (row counts, conf)
    stamped on the stage's snapshot, replacing any earlier manifest."""
    write_manifest(out_dir, stage, {**summary, "stage": stage, "snapshot": snapshot})


def record_buckets(
    out_dir: str,
    stage: str,
    snapshot: str,
    bucket_rows: dict[int, int],
    conf: dict | None = None,
    extra: dict | None = None,
) -> None:
    """Merge newly-completed buckets into the stage manifest.

    ``extra``: additional summary keys stamped on the manifest alongside
    the bucket increment (reserved keys are the merge's own and cannot
    be overridden) — so a commit that carries both bucket progress AND
    stage-level summary fields loses nothing."""
    m = read_manifest(out_dir, stage)
    if m is None or m.get("snapshot") != snapshot:
        m = {"stage": stage, "snapshot": snapshot, "buckets_done": [], "rows": {}}
    rows = dict(m.get("rows", {}))
    for b, n in bucket_rows.items():
        rows[str(b)] = n
    done = sorted(set(m.get("buckets_done", [])) | set(bucket_rows))
    reserved = {"stage", "snapshot", "buckets_done", "rows", "conf"}
    # Non-reserved summary keys from PRIOR commits carry forward (same
    # as conf): a bucket-only commit must not silently drop the extras a
    # previous commit stamped — the 'loses nothing' contract is for the
    # manifest's whole life on this snapshot, not per call.
    payload = {
        **{k: v for k, v in m.items() if k not in reserved},
        **{k: v for k, v in (extra or {}).items() if k not in reserved},
        "stage": stage,
        "snapshot": snapshot,
        "buckets_done": done,
        "rows": rows,
        "conf": conf or m.get("conf", {}),
    }
    write_manifest(out_dir, stage, payload)
