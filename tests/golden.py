"""Frozen engine outputs for the CLI differentials.

Each golden is the sha256 and byte length of the engine's output on
one fixture, taken from a tree whose outputs were verified byte-exact
against the reference binaries. A differential compares with the
binary when `.refbin` holds it and with the golden otherwise, so the
byte-exact net still bites without the binaries. A missing golden is
a failure, not a skip.

Goldens change only together with a CHANGES.md line saying why.
`OSMGRAFT_RECORD_GOLDEN=1 python -m pytest tests/<file>` rewrites the
entries of the tests it runs instead of comparing.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

REFBIN = Path(__file__).resolve().parent.parent / ".refbin"
GOLDEN = Path(__file__).resolve().parent / "golden" / "cli_outputs.json"


def have_refbin() -> bool:
    return (REFBIN / "osmconvert").exists()


def digest(data: bytes) -> dict:
    return {"sha256": hashlib.sha256(data).hexdigest(), "len": len(data)}


def assert_golden(key: str, path) -> None:
    """The engine output at `path` equals golden `key`."""
    got = digest(Path(path).read_bytes())
    table = json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}
    if os.environ.get("OSMGRAFT_RECORD_GOLDEN") == "1":
        table[key] = got
        GOLDEN.parent.mkdir(exist_ok=True)
        GOLDEN.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
        return
    assert key in table, f"no golden for {key!r} in {GOLDEN.name}"
    assert got == table[key], f"{key}: output differs from its golden"
