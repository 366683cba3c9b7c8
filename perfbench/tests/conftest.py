from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.run import _isolate
    from perfbench.spans import TRACE_CONF
    from hypergraph_gpu_label_propagation_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("perfbench"))
    _isolate(work)
    return get_spark("perfbench-tests", cores=2, extra_conf=TRACE_CONF)
