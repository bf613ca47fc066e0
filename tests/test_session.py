"""session.get_spark: the Python workers it configures import the package
from any working directory, fork from the patched daemon, still pick up a
zip passed to ``addPyFile`` after they are up, and still see the caller's
``PYTHONPATH``.

Each case runs a fresh driver in a subprocess whose working directory is a
temp dir outside the repository, so nothing but the session's own confs can
put the package on the workers' path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_DRIVER = r'''
import json, os, sys, zipfile
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from nba_data_pipeline_spark.session import get_spark
from nba_data_pipeline_spark.sources.html_datasource import register

spark = get_spark("test-session", cpus=2, shuffle_partitions=2)
out = {}
os.makedirs("land")
for i in range(3):
    with open(os.path.join("land", f"p{i}.html"), "w") as f:
        f.write("<table id='t'><tr><th>A</th></tr>"
                + "<tr><td>1</td></tr>" * (i + 1) + "</table>")
register(spark)
out["htmltable_rows"] = spark.read.format("htmltable").load(
    os.path.abspath("land")).count()

@F.pandas_udf("string")
def daemon_main(s: pd.Series) -> pd.Series:
    import sys
    return s.map(lambda _: sys.modules["__main__"].__spec__.name)

out["daemon"] = sorted({
    r[0] for r in spark.range(8).repartition(2)
    .select(daemon_main(F.lit("x"))).collect()
})

with zipfile.ZipFile("late.zip", "w") as zf:
    zf.writestr("latemod.py", "VALUE = 'late'\n")
spark.sparkContext.addPyFile(os.path.abspath("late.zip"))

@F.pandas_udf("string")
def late(s: pd.Series) -> pd.Series:
    import latemod
    return s.map(lambda _: latemod.VALUE)

out["late"] = sorted({
    r[0] for r in spark.range(8).repartition(2).select(late(F.lit("x"))).collect()
})

if len(sys.argv) > 2:
    @F.pandas_udf("string")
    def caller(s: pd.Series) -> pd.Series:
        import callermod
        return s.map(lambda _: callermod.VALUE)

    out["caller"] = spark.range(1).select(caller(F.lit("x"))).first()[0]
spark.stop()
print("RESULT " + json.dumps(out))
'''


def _run_driver(tmp_path, pythonpath: str | None, *extra: str) -> dict:
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYTHONSTARTUP")
    }
    env.update(SPARK_DRIVER_MEMORY="1g", PYSPARK_PYTHON=sys.executable)
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, *extra],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_workers_import_package_outside_repo_without_pythonpath(tmp_path):
    got = _run_driver(tmp_path, None)
    assert got["htmltable_rows"] == 6
    assert got["daemon"] == ["nba_data_pipeline_spark.pydaemon"]
    assert got["late"] == ["late"]


def test_workers_still_see_the_callers_pythonpath(tmp_path):
    lib = tmp_path / "callerlib"
    lib.mkdir()
    (lib / "callermod.py").write_text("VALUE = 'caller'\n")
    got = _run_driver(tmp_path, str(lib), "caller")
    assert got["htmltable_rows"] == 6
    assert got["late"] == ["late"]
    assert got["caller"] == "caller"
