import pytest

from paper_layout_parser_spark import synthdata as sd
from paper_layout_parser_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# a valid one-page PLP1 header over a truncated body: the split planner
# accepts it and the render stage must quarantine it
CORRUPT_HTML = sd.HTML_MAGIC + b"\x00\x00\x00\x01" + b'{"v":1,"pages":[{"page_no":1,"wid'


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="plp-tests", master="local[4]", shuffle_partitions=8)
    yield s
