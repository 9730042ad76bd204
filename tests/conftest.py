import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bind the REPO's `tests` (a namespace package — no __init__.py) into
# sys.modules now, while /root/repo is at the head of sys.path: several
# reference-differential fixtures later prepend /root/reference, whose
# tests/ IS a regular package and would otherwise shadow this one in
# subset runs where no module-level `from tests...` import ran at
# collection time (full runs were immune by accident of collection
# order — r15 finding)
import tests  # noqa: F401  (self-import of the namespace package)

from idb_backend_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: checkout of the reference project that the executed-reference
#: differentials (*_vs_reference.py, test_reference_differential*.py)
#: import and run
REFERENCE_DIR = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("idb-backend-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def requires_reference():
    """Skip the requesting test when the reference checkout is absent.
    Every fixture or test that imports the reference requests this, so
    without the checkout those tests report as skipped with this reason
    (``-rs`` lists them) instead of erroring."""
    if not os.path.isdir(REFERENCE_DIR):
        pytest.skip("reference checkout absent")


def soak_seeds(base_seed: int) -> list[int]:
    """Soak scaling for the randomized differentials (SURVEY §5).

    CI (default): just the pinned seed — deterministic regression net.
    Soak (``IDB_SOAK=N``, N>1): the pinned seed plus N-1 FRESH seeds,
    printed so any finding is reproducible by pinning the printed seed.
    """
    import os
    import random as _random

    n = int(os.environ.get("IDB_SOAK", "1"))
    if n <= 1:
        return [base_seed]
    fresh = [_random.SystemRandom().randrange(2**32) for _ in range(n - 1)]
    print(f"IDB_SOAK={n} fresh seeds: {fresh}")
    return [base_seed] + fresh
