"""What the benchmark (``perfbench/``) reads of the package by name.

The traced run interposes every function ``perfbench/spans.py`` lists in
``LAYERS`` (looked up with ``getattr``), and the ``code_stream`` workload
reads the stream's compaction cadence from its signature.  A rename or a
changed default breaks the benchmark, not the pipeline, so it is pinned
here.  ``spans.py`` is loaded from its path and only read.
"""

from __future__ import annotations

import importlib
import importlib.util
import inspect
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _spans():
    spec = importlib.util.spec_from_file_location(
        "_perfbench_spans", ROOT / "perfbench" / "spans.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up
    dont_write, sys.dont_write_bytecode = sys.dont_write_bytecode, True
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.dont_write_bytecode = dont_write
        del sys.modules[spec.name]
    return mod


def test_traced_layers_resolve():
    spans = _spans()
    missing = []
    for modname, names in spans.LAYERS.values():
        mod = importlib.import_module(f"{spans.PKG}.{modname}")
        for qual in names:
            owner = mod
            *cls, attr = qual.split(".")
            for c in cls:
                owner = getattr(owner, c, None)
            if not callable(getattr(owner, attr, None)):
                missing.append(f"{modname}.{qual}")
    assert not missing, missing


def test_stream_compaction_cadence():
    from healthcare_entity_resolution_spark.streaming import incremental as INC

    params = inspect.signature(INC.incremental_resolution_stream).parameters
    assert params["compact_every"].default == 16
