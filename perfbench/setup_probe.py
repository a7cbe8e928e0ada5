"""One set-up sample: ``session.get_spark`` through importing the plan
registry (``__spark_entry__``), in a fresh process.  Prints the seconds
taken as JSON on its last line."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from busdata_pipeline_spark.session import get_spark  # noqa: E402

t0 = time.perf_counter()
spark = get_spark("perfbench-setup")
t1 = time.perf_counter()
import __spark_entry__  # noqa: E402,F401

t2 = time.perf_counter()
spark.stop()
print(json.dumps({"get_spark_s": t1 - t0, "registry_import_s": t2 - t1}))
