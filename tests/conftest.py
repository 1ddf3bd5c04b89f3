import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postgraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("postgraph_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


#: the driver-facing `core` gate (round-11 verdict #2; see pytest.ini):
#: the oracle-parity sweep over EVERY registered query, the plan-shape
#: pins, the driver schema contract, the guard-invariant suites, and the
#: durable write path with its one commit (Graph.commit), the unique
#: constraints, label DDL and multi-hop/correlated MERGE that commit
#: serves, the soundness of the property-type catalog the write path
#: extends, the read path's plan templates, and the agreement of native
#: (catalog-typed) comparisons with the general gval path.
#: Everything else is marked `full` (builder's pre-commit gate).
_CORE_FILES = {
    "test_oracle_parity.py",
    "test_plan_shapes.py",
    "test_driver_schema_contract.py",
    "test_round11_fixes.py",
    "test_round12_fixes.py",
    "test_durable_writes.py",
    "test_write_commit.py",
    "test_label_ddl.py",
    "test_merge_paths.py",
    "test_prop_catalog.py",
    "test_plan_templates.py",
    "test_native_compare.py",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        name = os.path.basename(str(item.fspath))
        item.add_marker(
            pytest.mark.core if name in _CORE_FILES else pytest.mark.full
        )
