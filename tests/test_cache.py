"""The owner-scoped cache registry (euclid_spark/cache.py): a scope's pins
survive another thread's release_all() and go when the scope exits, and
no module pins around the registry."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import pytest

import euclid_spark
from euclid_spark import cache

# (module path under euclid_spark/, top-level function) → why it may pin
# with a bare call instead of the registry
BARE_PIN_ALLOWED = {
    ("operators/similarity.py", "ivf_inverted_lists"): (
        "similarity._IVF_LISTS: the IVF serving index is session-resident "
        "by design — per-query release must not evict it; "
        "ivf_invalidate() is its explicit drop"
    ),
}
PIN_METHODS = {"persist", "cache", "localCheckpoint"}


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_sink_scope_survives_concurrent_release_all(spark):
    """A sink-style thread pins and checkpoints inside its scope; the
    main thread's release_all() frees only the main thread's pin; the
    scope's exit frees the sink's two RDDs."""
    base = _n_persistent(spark)
    pinned, released = threading.Event(), threading.Event()
    seen: dict = {}

    def sink():
        try:
            with cache.scope():
                cache.persist_tracked(spark.range(100)).count()
                cache.local_checkpoint_tracked(spark.range(50))
                pinned.set()
                released.wait(120)
                seen["in_scope"] = _n_persistent(spark)
            seen["after_scope"] = _n_persistent(spark)
        except Exception as ex:  # noqa: BLE001 — reported below
            seen["error"] = ex
            pinned.set()

    t = threading.Thread(target=sink)
    t.start()
    assert pinned.wait(120)
    cache.persist_tracked(spark.range(70)).count()  # the main thread's own pin
    cache.release_all()
    after_release = _n_persistent(spark)
    released.set()
    t.join(120)

    assert not t.is_alive()
    assert "error" not in seen, seen.get("error")
    assert after_release == base + 2, "release_all() touched the sink's scope"
    assert seen["in_scope"] == base + 2
    assert seen["after_scope"] == base


def test_scope_releases_on_exception(spark):
    base = _n_persistent(spark)
    with pytest.raises(RuntimeError):
        with cache.scope():
            cache.persist_tracked(spark.range(100)).count()
            cache.local_checkpoint_tracked(spark.range(50))
            assert _n_persistent(spark) == base + 2
            raise RuntimeError("batch failed")
    assert _n_persistent(spark) == base


def test_pins_go_through_the_registry():
    """No module but cache.py calls a bare .persist(), .cache() or
    .localCheckpoint(): an unregistered pin lives until GC, whatever
    its caller releases."""
    root = Path(euclid_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "cache.py":
            continue
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in PIN_METHODS
                ):
                    found.add((rel, getattr(top, "name", "<module>")))
    assert found - BARE_PIN_ALLOWED.keys() == set(), (
        "pin through cache.persist_tracked / local_checkpoint_tracked"
    )
    # a stale allowlist entry would silently admit a future bare pin
    assert BARE_PIN_ALLOWED.keys() <= found
