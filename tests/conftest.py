import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fuzi_spark.corpus import REFERENCE_RESOURCES  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def fixture_bytes(name: str) -> bytes:
    with open(os.path.join(REFERENCE_RESOURCES, name), "rb") as f:
        return f.read()
