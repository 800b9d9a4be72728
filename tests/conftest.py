import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # $SPARK_GRAFT_CPUS (the tier-1 command sets it to the machine's
    # core count) wins over the fixed 8: local[8] on a 4-core box runs
    # every small job with twice the tasks and slots it has cores for
    s = get_spark(app_name="tests", cores=os.environ.get("SPARK_GRAFT_CPUS", 8))
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
