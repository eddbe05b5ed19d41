"""StatusStore against a live local Spark session (the py4j path)."""

import pytest

pytest.importorskip("pyspark")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.trace import StatusStore, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "3")
         .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
         .getOrCreate())
    yield s
    s.stop()


def test_span_sees_the_stages_of_its_job(spark):
    tracer = Tracer(StatusStore(spark))
    with tracer.span("groupby"):
        spark.range(0, 10000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    with tracer.span("idle"):
        pass
    job, idle = tracer.spans
    assert job["stages"] >= 2 and job["tasks"] >= 4
    assert job["shuffle_write_mb"] > 0 and job["task_s"] > 0
    assert job["cores"] == 2 and 0 < job["core_util"]
    assert idle["stages"] == 0 and idle["tasks"] == 0
