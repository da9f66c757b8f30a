"""Session factory conf handling (no JVM started)."""

import os

from panako_spark.session import (
    JAVA_OPTIONS, JAVA_OPTIONS_KEY, default_cpus, merged_conf,
)


def test_caller_java_options_append_to_the_sessions_own():
    extra = {JAVA_OPTIONS_KEY: "-XX:TieredStopAtLevel=1",
             "spark.sql.shuffle.partitions": "8"}
    conf = merged_conf(extra)
    assert conf == {
        JAVA_OPTIONS_KEY: f"{JAVA_OPTIONS} -XX:TieredStopAtLevel=1",
        "spark.sql.shuffle.partitions": "8"}
    assert extra[JAVA_OPTIONS_KEY] == "-XX:TieredStopAtLevel=1"


def test_session_java_options_without_caller_conf():
    assert merged_conf(None) == {JAVA_OPTIONS_KEY: JAVA_OPTIONS}
    assert merged_conf({JAVA_OPTIONS_KEY: ""}) == {
        JAVA_OPTIONS_KEY: JAVA_OPTIONS}


def test_default_cpus_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))
