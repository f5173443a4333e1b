"""Session factory: the fastfs shim's classpath and launch handling, and
the codegen class-cache size."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from stellar_etl_airflow_spark import session as S

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(REPO_ROOT, "stellar_etl_airflow_spark", "jars", "fastlocalfs.jar")

# Whole-stage-codegen units the 154-entry corpus emits per pass: about
# 1-1.5k (optimization r14). Spark's default cache of 100 classes thrashed
# on them; the rule is a cache of about 3x the corpus's units.
CORPUS_CODEGEN_UNITS = (1000, 1500)


def test_codegen_cache_pinned_to_three_times_corpus_units(spark):
    entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert entries == 4096
    lo, hi = CORPUS_CODEGEN_UNITS
    assert 3 * lo <= entries <= 3 * hi


def test_fastfs_conf_appends_to_existing_classpath():
    conf = S._fastfs_conf(JAR, os.pathsep.join(["/opt/a.jar", "/opt/b.jar"]))
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/opt/a.jar", "/opt/b.jar", JAR])
    assert S._fastfs_conf(JAR, None)["spark.driver.extraClassPath"] == JAR
    # already on the classpath: not added twice
    assert S._fastfs_conf(JAR, JAR)["spark.driver.extraClassPath"] == JAR
    assert conf["spark.hadoop.fs.file.impl"] == "fastlocalfs.FastLocalFileSystem"


def test_spark_defaults_parsed(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "# comment\nspark.driver.extraClassPath   /opt/x.jar\nspark.a=1\nspark.b : two words\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert S._spark_defaults() == {
        "spark.driver.extraClassPath": "/opt/x.jar", "spark.a": "1", "spark.b": "two words",
    }


def _run(script: str, tmp_path, env: dict) -> dict:
    """Run ``script`` in a fresh Python process (its own JVM) and return
    the JSON it prints last."""
    full_env = {
        **os.environ,
        "PYTHONPATH": REPO_ROOT,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_DRIVER_MEMORY": "512m",
        "SPARK_GRAFT_PRELOAD_DAEMON": "0",
        **env,
    }
    full_env.pop("PYSPARK_GATEWAY_PORT", None)
    full_env.pop("SPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=str(tmp_path), env=full_env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


PROBE = """
    def probe(spark, path):
        spark.range(3).write.mode("overwrite").parquet(path)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        return {
            "classpath": spark.sparkContext.getConf().get("spark.driver.extraClassPath", ""),
            "impl": hconf.get("fs.file.impl") or "",
            "rows": spark.read.parquet(path).count(),
        }
"""


def test_launching_call_keeps_defaults_classpath_and_enables_shim(tmp_path):
    """spark-defaults.conf's driver classpath survives, with the jar
    appended, and the shim serves file:// I/O."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.driver.extraClassPath /opt/extra.jar\n")
    got = _run(
        PROBE + """
    import json
    from stellar_etl_airflow_spark.session import get_spark
    spark = get_spark("fastfs-launch")
    print(json.dumps(probe(spark, "out")))
    spark.stop()
    """,
        tmp_path,
        {"SPARK_CONF_DIR": str(conf_dir), "SPARK_GRAFT_FASTFS": "1"},
    )
    assert got["classpath"] == os.pathsep.join(["/opt/extra.jar", JAR])
    assert got["impl"] == "fastlocalfs.FastLocalFileSystem"
    assert got["rows"] == 3


def test_shim_not_enabled_in_a_jvm_launched_without_it(tmp_path):
    """A session created in a JVM that was launched without the jar must
    not point file:// at the shim's classes (ClassNotFoundException on
    every file access)."""
    got = _run(
        PROBE + """
    import json, os
    from stellar_etl_airflow_spark.session import get_spark
    os.environ["SPARK_GRAFT_FASTFS"] = "0"
    get_spark("plain").stop()
    os.environ["SPARK_GRAFT_FASTFS"] = "1"
    spark = get_spark("after-relaunch")
    print(json.dumps(probe(spark, "out")))
    spark.stop()
    """,
        tmp_path,
        {},
    )
    assert JAR not in got["classpath"]
    assert not got["impl"].startswith("fastlocalfs")
    assert got["rows"] == 3
