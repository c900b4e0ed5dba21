"""The spark-submit job's conf merge (pure Python, no JVM)."""

from fuzzy_matcher_spark.session import submit_conf, tuned_sql_conf


def test_submit_conf_keeps_launch_values():
    launch = {
        "spark.master": "yarn",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "500",
    }
    got = submit_conf(launch, default_parallelism=32)
    # a key the submit set keeps the submit's value (it is not re-set)
    assert "spark.sql.shuffle.partitions" not in got
    assert "spark.sql.execution.arrow.maxRecordsPerBatch" not in got
    # an unset key gets the tuned default
    tuned = tuned_sql_conf(32)
    for k in (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    ):
        assert got[k] == tuned[k]
    # the master is never touched
    assert "spark.master" not in got


def test_submit_conf_shuffle_width_and_job_defaults():
    job = {"spark.sql.parquet.columnarReaderBatchSize": "512"}
    small = submit_conf({}, default_parallelism=4, job_defaults=job)
    assert small["spark.sql.shuffle.partitions"] == "8"
    assert small["spark.sql.parquet.columnarReaderBatchSize"] == "512"
    assert "spark.master" not in small
    wide = submit_conf({}, default_parallelism=64)
    assert wide["spark.sql.shuffle.partitions"] == "64"
    # without launch values the job gets exactly the get_spark set
    assert wide == tuned_sql_conf(64)
    # a job default yields to the launch conf too
    kept = submit_conf(job, default_parallelism=4, job_defaults=job)
    assert "spark.sql.parquet.columnarReaderBatchSize" not in kept
