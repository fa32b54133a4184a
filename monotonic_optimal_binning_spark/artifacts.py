"""Model artifact files: every ``save_json``/``load_json`` goes through
here, so each artifact is strict JSON and is published atomically."""

from __future__ import annotations

import json
import os
from typing import Any, Optional


def save_json(payload: Any, path: str, *, indent: Optional[int] = 2) -> None:
    """Write ``payload`` to ``path`` as strict JSON (a NaN or inf raises
    ``ValueError``). The dump goes to ``path.tmp`` and is renamed over
    ``path`` only once complete, so a dump that fails or a job killed
    mid-write leaves the previous file intact, never a torn one."""
    tmp = f"{path}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=indent, allow_nan=False)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def load_json(path: str) -> Any:
    with open(path) as f:
        return json.load(f)
