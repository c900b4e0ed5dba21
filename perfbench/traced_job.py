"""spark-submit primary resource for traced crawl_submit runs.

Runs ``fuzzy_matcher_spark.jobs.dedup_job`` unchanged, under the driver
stack sampler, and writes the samples to the path in the
``PERFBENCH_SAMPLES`` environment variable when the job returns. The
untraced runs submit ``jobs/dedup_job.py`` itself.
"""

import json
import os
import sys

from tracing import StackSampler

if __name__ == "__main__":
    from fuzzy_matcher_spark.jobs import dedup_job

    sampler = StackSampler()
    try:
        with sampler:
            rc = dedup_job.main(sys.argv[1:])
    finally:
        with open(os.environ["PERFBENCH_SAMPLES"], "w") as f:
            json.dump(sampler.samples, f)
    sys.exit(rc)
