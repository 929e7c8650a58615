"""Environment knobs are deployment settings only. A value nobody varies
is a constant and a value a rule can decide is derived, so a new
``SPARK_GRAFT_*`` variable in the package or the bench must be added
here on purpose."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]

_DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_ARTIFACTS",  # artifact warehouse path
    "SPARK_GRAFT_CPUS",  # local[N] and the default shuffle width
    "SPARK_GRAFT_DRIVER_MEM",  # spark.driver.memory
    "SPARK_GRAFT_LOG_GC_GRACE",  # default of CLI `vacuum --grace`
    "SPARK_GRAFT_SF_DIR",  # the data directory queries read
}


def test_env_knobs_are_the_deployment_settings():
    files = sorted((ROOT / "eventlog_spark").rglob("*.py")) + [ROOT / "bench.py"]
    found = {
        name
        for f in files
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read_text())
    }
    assert found == _DEPLOYMENT_SETTINGS
