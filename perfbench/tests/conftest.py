"""Make the benchmark modules and the engine package importable, and pin
the process to UTC before any Spark session starts (collected
timestamps are converted in the Python process's local time zone)."""

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
os.environ["TZ"] = "UTC"
time.tzset()
