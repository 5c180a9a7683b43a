"""The slow tier is a set of test NAMES (``conftest.py::SLOW_TESTS``):
a name that no test defines any more marks nothing and fails nothing,
so each one must still name a test function."""

from __future__ import annotations

import glob
import os

from .conftest import SLOW_TESTS


def test_every_slow_test_name_is_defined():
    here = os.path.dirname(os.path.abspath(__file__))
    source = "".join(
        open(p).read() for p in sorted(glob.glob(os.path.join(here, "test_*.py")))
    )
    stale = sorted(n for n in SLOW_TESTS if f"def {n}(" not in source)
    assert stale == []
