"""Session factory: the env-knob reader and the Python workers' path."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

import pytest

from mapreducelearnings_spark import session as S

from .conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "name, parse, default, raw, want",
    [
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "6", 6),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, " 6 ", 6),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "", 4),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "four", 4),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "2.5", 4),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "0", 4),
        ("SPARK_GRAFT_CPUS", S._positive_int, 4, "-2", 4),
        ("SPARK_GRAFT_STREAM_SHUFFLE", S._positive_int, 8, "16", 16),
        ("SPARK_GRAFT_STREAM_SHUFFLE", S._positive_int, 8, "wide", 8),
        ("SPARK_GRAFT_STREAM_SHUFFLE", S._positive_int, 8, "0", 8),
        ("SPARK_GRAFT_STREAM_SHUFFLE", S._positive_int, 8, "1e3", 8),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "4g", "4g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "512M", "512M"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "2048", "2048"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "", "16g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "lots", "16g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "4 g", "16g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "-4g", "16g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "0g", "16g"),
        ("SPARK_GRAFT_DRIVER_MEM", S._jvm_size, "16g", "1.5g", "16g"),
        ("SPARK_GRAFT_BENCH_REPEATS", S._positive_int, 3, "5", 5),
        ("SPARK_GRAFT_BENCH_REPEATS", S._positive_int, 3, "three", 3),
        ("SPARK_GRAFT_BENCH_REPEATS", S._positive_int, 3, "0", 3),
        ("SPARK_GRAFT_CAL_REF", S._positive_float, 0.62, "0.7", 0.7),
        ("SPARK_GRAFT_CAL_REF", S._positive_float, 0.62, "fast", 0.62),
        ("SPARK_GRAFT_CAL_REF", S._positive_float, 0.62, "0", 0.62),
        ("SPARK_GRAFT_CAL_WIDE_REF", S._positive_float, 0.62, "nan", 0.62),
        ("SPARK_GRAFT_CAL_WIDE_REF", S._positive_float, 0.62, "inf", 0.62),
        ("SPARK_GRAFT_CAL_LOADAVG_MAX", S._positive_float, 1.5, "4", 4.0),
        ("SPARK_GRAFT_CAL_LOADAVG_MAX", S._positive_float, 1.5, "-1", 1.5),
        ("SPARK_GRAFT_CAL_LOADAVG_MAX", S._positive_float, 1.5, "busy", 1.5),
    ],
)
def test_env_knob_reader_falls_back_on_malformed(
    monkeypatch, name, parse, default, raw, want
):
    """Every SPARK_GRAFT_* knob goes through session._env: a malformed
    or out-of-range value yields the default instead of a failed JVM
    launch (driver memory) or an invalid width (cpus, drain shuffle)."""
    monkeypatch.setenv(name, raw)
    assert S._env(name, parse, default) == want
    monkeypatch.delenv(name)
    assert S._env(name, parse, default) == default


@pytest.mark.parametrize(
    "name, raw",
    [
        ("SPARK_GRAFT_CAL_REF", "fast"),
        ("SPARK_GRAFT_CAL_REF", "-0.5"),
        ("SPARK_GRAFT_CAL_WIDE_REF", "0.6s"),
        ("SPARK_GRAFT_CAL_WIDE_REF", "nan"),
    ],
)
def test_bench_imports_with_malformed_calibration_knob(monkeypatch, name, raw):
    """bench.py reads its calibration references at import: a malformed
    value keeps the default reference instead of failing the import."""
    import importlib.util

    monkeypatch.setenv(name, raw)
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench._CALIBRATION_REF_SEC == bench._CALIBRATION_WIDE_REF_SEC == 0.62


def test_workers_import_package_from_another_directory(tmp_path):
    """A caller that puts the checkout on sys.path and runs from another
    directory: the Python workers of a stateful stream drain
    (applyInPandasWithState) must still import the package."""
    script = tmp_path / "caller.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(REPO)!r})
            from mapreducelearnings_spark.queries import REGISTRY
            from mapreducelearnings_spark.session import get_spark

            spark = get_spark("worker_path", master="local[1]",
                              shuffle_partitions=2)
            spec = REGISTRY["distinct_kmv_stream"]
            print("rows", len(spec.spark(spark, {SF_SMOKE!r}).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 5" in proc.stdout
