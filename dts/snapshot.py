"""Snapshots — point-in-time index backup/restore (+ index stats).

Lucene's SnapshotDeletionPolicy / ES snapshots hard-link the segment
files of a commit point: O(files) metadata work, zero data copy, and
the snapshot stays valid because committed files are immutable. This
engine's layout has the same property — parquet part files are never
rewritten in place (mutations write `*_new` dirs and os.replace, or
append new files) — so a snapshot is a hard-link tree plus a manifest
recording exactly which files the commit contained. A snapshot IS a
readable index dir: every query surface works against it directly.

Restore = link the snapshot back to a destination (again O(files)).
Cross-device targets fall back to copies. Concurrency contract (same as
the engine's other maintenance ops): snapshot between mutations, not
mid-mutation — the engine's mutations are atomic at the meta.json
swap, so "after any returned mutation call" is a consistent point.
"""

from __future__ import annotations

import json
import os
import shutil


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _walk_files(root: str) -> list[str]:
    out = []
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            out.append(os.path.relpath(p, root))
    return sorted(out)


def index_stats(index_dir: str) -> dict:
    """Cheap index statistics (no Spark job): doc/vocab counts and byte
    sizes per component from meta.json + the directory tree — the
    `_stats`/`_cat indices` analogue."""
    from dts.index_build import load_meta

    meta = load_meta(index_dir)
    comp_bytes: dict[str, int] = {}
    for rel in _walk_files(index_dir):
        top = rel.split(os.sep)[0]
        full = os.path.join(index_dir, rel)
        comp_bytes[top] = comp_bytes.get(top, 0) + os.path.getsize(full)
    return {
        "n_docs": meta.get("n_docs"),
        "next_doc_id": meta.get("next_doc_id", meta.get("n_docs")),
        "n_deleted": meta.get("n_deleted", 0),
        "vocab_size": meta.get("vocab_size"),
        "total_tokens": meta.get("total_tokens"),
        "revision": meta.get("revision", 0),
        "positions": bool(meta.get("positions")),
        "bytes_total": sum(comp_bytes.values()),
        "bytes_by_component": dict(sorted(comp_bytes.items())),
    }


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """Hard-link every file of the current commit into ``snap_dir`` and
    write a ``_snapshot.json`` manifest (files + sizes + source meta).
    Refuses a non-empty destination. Returns the manifest."""
    if os.path.exists(snap_dir) and os.listdir(snap_dir):
        raise ValueError(f"snapshot destination not empty: {snap_dir}")
    os.makedirs(snap_dir, exist_ok=True)
    files = _walk_files(index_dir)
    if "meta.json" not in files:
        raise ValueError(f"not an index dir (no meta.json): {index_dir}")
    for rel in files:
        dst = os.path.join(snap_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _link_or_copy(os.path.join(index_dir, rel), dst)
    manifest = {
        "source": os.path.abspath(index_dir),
        "files": {
            rel: os.path.getsize(os.path.join(index_dir, rel))
            for rel in files
        },
        "stats": index_stats(index_dir),
    }
    tmp = os.path.join(snap_dir, "_snapshot.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(snap_dir, "_snapshot.json"))
    return manifest


def restore_index(snap_dir: str, dest_dir: str) -> dict:
    """Materialize a snapshot as a working index at ``dest_dir``
    (hard-links again; the restored tree is independent for all engine
    mutations because mutations never modify files in place). Verifies
    the manifest's file list and sizes before touching ``dest_dir``."""
    man_path = os.path.join(snap_dir, "_snapshot.json")
    if not os.path.exists(man_path):
        raise ValueError(f"no _snapshot.json under {snap_dir}")
    with open(man_path) as f:
        manifest = json.load(f)
    for rel, size in manifest["files"].items():
        p = os.path.join(snap_dir, rel)
        if not os.path.exists(p) or os.path.getsize(p) != size:
            raise ValueError(f"snapshot corrupt: {rel} missing or resized")
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"restore destination not empty: {dest_dir}")
    os.makedirs(dest_dir, exist_ok=True)
    for rel in manifest["files"]:
        dst = os.path.join(dest_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _link_or_copy(os.path.join(snap_dir, rel), dst)
    return manifest
