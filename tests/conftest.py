import sys
from pathlib import Path

import pytest

# the checkout this file belongs to: its root (bench, __spark_entry__)
# and tools/ (check_oracle) import ahead of any other copy
ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from centimators_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("centimators-tests", cpus=8, shuffle_partitions=8)
    yield s
