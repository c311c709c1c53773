"""The program runs from any checkout, on a host of any memory size."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from .conftest import REPO_DIR, SF_DIR

PACKAGE = "datafusion_distributed_experiment_spark"

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def test_entry_module_imports_the_package_next_to_it(tmp_path):
    """A copy of the entry module, run from a directory that holds no
    package, must load the copy's package, not another checkout's."""
    copy = tmp_path / "checkout"
    shutil.copytree(
        os.path.join(REPO_DIR, PACKAGE),
        copy / PACKAGE,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(REPO_DIR, "__spark_entry__.py"), copy)
    with open(copy / PACKAGE / "__init__.py", "a") as f:
        f.write("\nLOADED_FROM_COPY = True\n")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('__spark_entry__', {str(copy / '__spark_entry__.py')!r})\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        f"print(getattr(sys.modules[{PACKAGE!r}], 'LOADED_FROM_COPY', False))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=elsewhere,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "True", res.stdout


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver run from a directory that holds no package, with
    ``PYTHONPATH`` unset, still runs the queries whose Python workers
    import the package: a pandas UDF and a Python data source."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO_DIR!r})\n"
        f"from {PACKAGE} import build_session\n"
        f"from {PACKAGE}.operators.multimodal import media_features\n"
        f"from {PACKAGE}.sources.custom import custom_source_scan\n"
        "spark = build_session(app_name='portability', master='local[2]', "
        "shuffle_partitions=2, extra_conf={'spark.ui.enabled': 'false'})\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "for q in (media_features, custom_source_scan):\n"
        f"    print(q.__name__, len(q(spark, {SF_DIR!r}).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    counts = dict(line.split() for line in res.stdout.splitlines())
    assert counts == {"media_features": "500", "custom_source_scan": "8"}, res.stdout


def test_local_driver_heap_fits_the_host(spark):
    """Unless ``SPARK_GRAFT_DRIVER_MEM`` overrides it, the local-mode driver
    heap is no larger than the host's physical memory."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override is not None:
        assert mem == override
        return
    unit = mem[-1].lower()
    n_bytes = int(mem[:-1]) * _UNITS[unit] if unit in _UNITS else int(mem) << 20
    assert n_bytes <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"), mem
