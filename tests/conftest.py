import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from schema_guru_spark.session import get_spark
    s = get_spark("sgs-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def scan_metrics(df):
    """Executed FileSourceScan metrics (numFiles / numPartitions) — the
    ground truth for partition-pruning assertions. Collect the df first;
    metrics only exist after execution."""
    ep = df._jdf.queryExecution().executedPlan()
    try:
        ep = ep.finalPhysicalPlan()
    except Exception:
        pass
    out = {}

    def walk(node):
        if node.children().size() == 0:
            if "FileSourceScan" in node.getClass().getSimpleName():
                m = node.metrics()
                for key in ("numFiles", "numPartitions"):
                    if m.contains(key):
                        out[key] = out.get(key, 0) + m.apply(key).value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(ep)
    return out


def _sql_executions(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(k) for k in range(execs.size())]


def last_execution_id(spark):
    """Id of the newest SQL execution in the status store (-1 if none):
    the watermark for ``executed_plans``."""
    return max((e.executionId() for e in _sql_executions(spark)),
               default=-1)


def executed_plans(spark, after=-1):
    """[(execution id, physical plan description)] of the SQL executions
    with id > ``after``, from the SQL status store — every plan a call
    executed, including the ones behind internal actions (sink writes,
    ``toPandas``) that a caller never holds a DataFrame for."""
    return [(e.executionId(), e.physicalPlanDescription())
            for e in _sql_executions(spark) if e.executionId() > after]
