"""The plan registry, pinned without Spark: every plan name, the sha256
of its oracle string and its artifact flag match
``tests/registry_manifest.json``, so moving plans between modules can
neither drop, duplicate nor alter one.

Regenerate the manifest after a deliberate registry change with
``python tests/test_registry.py``.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from omniengine_spark.plans import registry  # noqa: E402

MANIFEST = Path(__file__).with_name("registry_manifest.json")


def live_manifest() -> dict[str, dict]:
    """name → oracle sha256 (or None) and ARTIFACT_PLANS membership."""
    return {
        name: {
            "oracle_sha256": (
                hashlib.sha256(registry.ORACLES[name].encode()).hexdigest()
                if name in registry.ORACLES
                else None
            ),
            "artifact": name in registry.ARTIFACT_PLANS,
        }
        for name in sorted(registry.QUERIES)
    }


def test_registry_matches_manifest():
    want = json.loads(MANIFEST.read_text())
    got = live_manifest()
    assert sorted(got) == sorted(want)
    assert got == want
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    assert registry.ARTIFACT_PLANS <= set(registry.QUERIES)


def test_registering_an_existing_name_raises():
    name = next(iter(registry.QUERIES))
    fn = registry.QUERIES[name]
    with pytest.raises(ValueError, match=name):
        registry.query(name)(lambda spark, sf_dir: None)
    assert registry.QUERIES[name] is fn


if __name__ == "__main__":
    MANIFEST.write_text(json.dumps(live_manifest(), indent=1) + "\n")
    print(f"wrote {MANIFEST} ({len(registry.QUERIES)} plans)")
