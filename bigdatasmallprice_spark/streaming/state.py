"""Replay protection for foreachBatch incremental-state streams.

Spark's foreachBatch contract is at-least-once: a batch that fails
after its side effect but before the checkpoint commit is retried with
the SAME batch_id. Folds that are not idempotent (counter SUMs)
must therefore record the last applied id and skip replays. Batch ids
are monotone per checkpoint, so "applied" is a single max — stored as
a JSON marker beside the state, written atomically (tmp + rename).

The marker is paired with the stream's checkpoint: reusing a state
directory with a FRESH checkpoint restarts ids at 0, so state and
checkpoint must live and die together (same rule Spark applies to its
own sinks).
"""

from __future__ import annotations

import json
import os

_MARKER = "_applied_batch.json"


def _marker_path(state_path: str) -> str:
    return state_path.rstrip("/") + "." + _MARKER


def already_applied(state_path: str, batch_id: int) -> bool:
    p = _marker_path(state_path)
    if not os.path.exists(p):
        return False
    with open(p) as fh:
        return batch_id <= json.load(fh)["max_batch_id"]


def mark_applied(state_path: str, batch_id: int) -> None:
    p = _marker_path(state_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"max_batch_id": batch_id}, fh)
    os.replace(tmp, p)


# ---------------------------------------------------------------------------
# Versioned state: crash-atomic rewrite-style state (count tables)
# ---------------------------------------------------------------------------
#
# Rewrite-style folds (the KN LM and DSIR count tables, the language-mix
# counters) replace the whole state each batch. Overwriting the live
# directory is NOT crash-atomic: Spark deletes the old files before the
# new ones are committed, so a crash mid-write leaves a torn state under
# a marker that still claims the previous batch applied — and the retry
# folds on top of garbage.
#
# Instead each fold writes a FRESH version directory
# (``<state>.__v<version>__``) and then flips one atomically-replaced
# JSON manifest (pointer + replay watermark + fold config, one
# ``os.replace``) to it. Crash before the flip: the manifest still
# points at the previous complete version, the half-written directory is
# orphaned and simply overwritten by the retry. Crash after the flip:
# the batch is recorded applied and the retry is skipped. Old version
# directories are best-effort garbage-collected after every successful
# flip. The manifest also pins fold parameters (e.g. the DSIR target
# predicate and bucket count): resuming a fold with different parameters
# would silently mix incomparable counts, so mismatches must raise
# instead (validate_state_config).

_MANIFEST = "_state_manifest.json"


def _manifest_path(state_path: str) -> str:
    return state_path.rstrip("/") + "." + _MANIFEST


def read_state_manifest(state_path: str) -> dict | None:
    p = _manifest_path(state_path)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def state_version_dir(state_path: str, version: int) -> str:
    return state_path.rstrip("/") + f".__v{version}__"


def resolve_state_dir(state_path: str) -> str | None:
    """Directory holding the current complete state, or None if empty."""
    manifest = read_state_manifest(state_path)
    if manifest is not None:
        return manifest["state_dir"]
    # legacy layout: state written directly at state_path
    return state_path if os.path.isdir(state_path) else None


def validate_state_config(state_path: str, config: dict) -> None:
    """Raise if ``config`` differs from the manifest's pinned config."""
    manifest = read_state_manifest(state_path)
    if manifest is None:
        return
    pinned = manifest.get("config", {})
    diffs = {k: (pinned[k], v) for k, v in config.items() if pinned.get(k) != v}
    if diffs:
        raise ValueError(
            f"state at {state_path} was built with different parameters: "
            + ", ".join(
                f"{k}={old!r} (stored) vs {new!r} (requested)"
                for k, (old, new) in diffs.items()
            )
        )


def publish_state(
    state_path: str,
    version: int,
    batch_id: int | None,
    config: dict | None = None,
) -> None:
    """Atomically flip the manifest to ``version`` and GC older dirs."""
    prev = read_state_manifest(state_path)
    manifest = {
        "version": version,
        "state_dir": state_version_dir(state_path, version),
        "max_batch_id": (
            batch_id
            if batch_id is not None
            else (prev or {}).get("max_batch_id", -1)
        ),
        "config": config or (prev or {}).get("config", {}),
    }
    p = _manifest_path(state_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, p)
    # keep the immediately-previous version too: a reader that resolved
    # the state dir just before this flip still holds a lazy DataFrame
    # over it — deleting only versions >=2 flips old gives that reader a
    # full fold-cycle of grace instead of a FileNotFound mid-collect
    keep = {manifest["state_dir"]}
    if prev is not None:
        keep.add(prev["state_dir"])
    _gc_stale_versions(state_path, keep=keep)


def _gc_stale_versions(state_path: str, keep: set[str]) -> None:
    import glob
    import shutil

    for d in glob.glob(state_path.rstrip("/") + ".__v*__"):
        if d not in keep:
            shutil.rmtree(d, ignore_errors=True)


def versioned_already_applied(state_path: str, batch_id: int | None) -> bool:
    if batch_id is None:
        return False
    manifest = read_state_manifest(state_path)
    if manifest is None:
        # legacy layout: state written by the pre-manifest release keeps
        # its replay watermark in the old applied-marker — honoring it
        # here means an upgrade mid-stream cannot re-fold a batch that
        # the old release already applied
        return already_applied(state_path, batch_id)
    return batch_id <= manifest["max_batch_id"]


def next_state_version(state_path: str) -> int:
    manifest = read_state_manifest(state_path)
    return 0 if manifest is None else manifest["version"] + 1


def validate_pin_with_default(state_path: str, key: str, value, default) -> None:
    """Validate ONE pinned fold parameter, treating a pre-pin manifest
    (config lacking ``key``) as pinned to ``default`` — the migration
    rule: legacy states keep folding under the default (matching their
    read paths' fallbacks) instead of freezing forever on None != value,
    and the caller's next successful publish_state re-publishes the
    pin. A non-default value still refuses against a pre-pin state."""
    manifest = read_state_manifest(state_path)
    if manifest is None:
        return
    if key not in manifest.get("config", {}):
        if value != default:
            raise ValueError(
                f"state at {state_path} predates the {key} pin (built "
                f"with the default {default!r}); cannot fold {value!r}"
            )
        return
    validate_state_config(state_path, {key: value})
