"""get_spark's launcher rules: under spark-submit the launcher's master and
``--conf`` values reach the session; as plain Python the session defaults
to ``local[$SPARK_GRAFT_CPUS]`` with one shuffle partition per core.

Each case starts its own JVM in a subprocess (the test session's JVM is
already up, so its launch settings cannot be changed in process)."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import json
from harvesttext_spark.session import get_spark

spark = get_spark(app_name="session_probe")
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
}))
spark.stop()
"""


def spark_submit() -> str:
    import pyspark

    return shutil.which("spark-submit") or str(Path(pyspark.__file__).parent / "bin" / "spark-submit")


def probe(tmp_path, launcher: list[str], **env) -> dict:
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    # a runner itself started by spark-submit must not hand its JVM over
    full_env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    full_env.update(
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), full_env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        **env,
    )
    proc = subprocess.run(
        [*launcher, str(script)],
        env=full_env,
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spark_submit_settings_win(tmp_path):
    """The launcher's master, driver memory and shuffle partition count
    reach the session although SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM name
    other values."""
    got = probe(
        tmp_path,
        [
            spark_submit(), "--master", "local[2]", "--driver-memory", "1g",
            "--conf", "spark.sql.shuffle.partitions=3",
        ],
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEM="2g",
    )  # fmt: skip
    assert got == {"master": "local[2]", "shuffle_partitions": "3", "driver_memory": "1g"}


def test_plain_python_defaults(tmp_path):
    """With no launcher: local[$SPARK_GRAFT_CPUS], one shuffle partition
    per core, SPARK_DRIVER_MEM."""
    got = probe(tmp_path, [sys.executable], SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    assert got == {"master": "local[2]", "shuffle_partitions": "2", "driver_memory": "1g"}
