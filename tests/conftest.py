from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nise_dedup.config import DedupConfig  # noqa: E402
from nise_dedup.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # session.py's default driver heap (24g) can exceed the host's RAM; the
    # test corpora need a fraction of this, and a smaller heap makes the
    # JVM collect instead of growing until the host kills it
    os.environ.setdefault("NISE_DRIVER_MEM", "4g")
    s = build_session(master="local[4]",
                      cfg=DedupConfig(shuffle_partitions=8))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg():
    return DedupConfig()
