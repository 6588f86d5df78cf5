"""Checkpoint state store (≈ FsStateStore + WatermarkStorage).

Reference semantics re-expressed:
- write-tmp-then-atomic-rename per document
  (gobblin-metastore/.../FsStateStore.java:156-222);
- a ``current`` alias pointing at the latest committed doc
  (FsStateStore.java:353 createAlias "current.jst");
- per-source watermark maps
  (gobblin-api/.../writer/WatermarkStorage.java:30-47).

One JSON doc per committed batch: {job_id, batch_id, watermarks, counts,
snapshot_version, lineage}. The sink's own table properties remain the
authoritative fencing record (SURVEY §3.3) — this store is the fast path and
is re-derivable from them (tested).
"""

from __future__ import annotations

import json
import os
import tempfile


def write_json_atomic(path: str, doc: dict) -> None:
    """Write ``doc`` to a temp file in ``path``'s dir, then rename it over
    ``path``: a reader sees the old document or the new one, never a part."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=1, default=str)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class StateStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, store: str) -> str:
        d = os.path.join(self.root, store)
        os.makedirs(d, exist_ok=True)
        return d

    def put(self, store: str, doc: dict) -> str:
        """Persist a doc under the next sequence number and atomically move the
        ``current`` alias to it."""
        d = self._dir(store)
        seq = 1 + max(
            (int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()),
            default=-1,
        )
        path = os.path.join(d, f"{seq:06d}.json")
        write_json_atomic(path, doc)
        write_json_atomic(os.path.join(d, "current.json"), {"seq": seq, **doc})
        return path

    def get_current(self, store: str) -> dict | None:
        path = os.path.join(self._dir(store), "current.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def history(self, store: str) -> list[dict]:
        d = self._dir(store)
        docs = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json") and f[:-5].isdigit():
                with open(os.path.join(d, f)) as fh:
                    docs.append(json.load(fh))
        return docs
