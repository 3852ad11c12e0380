import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference"
TESTDATA = "/root/testdata"


# the reference checkout's golden files (test/ref/*, test/*.fastq); tests
# that read them skip when it is absent rather than erroring
HAVE_REF = os.path.isdir(REF)
SKIP_NO_REF = f"reference golden files not found under {REF}"
requires_reference = pytest.mark.skipif(not HAVE_REF, reason=SKIP_NO_REF)


def load_golden_json(name: str) -> dict:
    if not HAVE_REF:
        pytest.skip(SKIP_NO_REF)
    with open(os.path.join(REF, "test", "ref", name)) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def genomes_golden():
    return load_golden_json("genomes.json")


@pytest.fixture(scope="session")
def reads_golden():
    return load_golden_json("reads.json")


def golden_sketch(golden: dict, idx: int) -> np.ndarray:
    return np.array(golden["sketches"][idx]["hashes"], dtype=np.uint64)


@pytest.fixture(scope="session")
def spark():
    from mashspark.session import get_spark

    s = get_spark(cores=4, shuffle_partitions=8, app_name="mashspark-tests")
    yield s
    s.stop()
