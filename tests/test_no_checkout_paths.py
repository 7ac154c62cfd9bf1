"""The engine and its tests find their files from the package
directory, so a checkout works wherever it is cloned."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# built from parts so this file does not match itself
NEEDLE = ("/" + "/".join(["root", "repo"])).encode()


def test_no_hard_coded_checkout_path():
    hits = [
        str(p.relative_to(ROOT))
        for top in ("plankton_spark", "tests")
        for p in sorted((ROOT / top).rglob("*"))
        if p.is_file() and "__pycache__" not in p.parts and NEEDLE in p.read_bytes()
    ]
    assert hits == []
