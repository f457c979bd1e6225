import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    harness.prepare_env(str(tmp_path_factory.mktemp("perfbench")))
    s = harness.start_session()
    yield s
    s.stop()
