"""scripts/measure.py as a command line: the modes that need no Spark stay
cheap (the codec profiler reads the default synthetic tables with pyarrow),
and a missing or unknown mode exits with the usage text."""

from __future__ import annotations

import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
MEASURE = REPO / "scripts" / "measure.py"

# Runs measure.py as __main__, then fails if anything launched a JVM or
# built a SparkSession while it ran.
_NO_SPARK = """
import runpy, sys
sys.argv = [{script!r}] + sys.argv[1:]
runpy.run_path({script!r}, run_name="__main__")
ctx = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
sess = sys.modules.get("pyspark.sql.session")
assert ctx is None or ctx.SparkContext._gateway is None, "a JVM was launched"
assert sess is None or sess.SparkSession._instantiatedSession is None, "a SparkSession was built"
"""


def _measure(*args: str, no_spark: bool = False) -> subprocess.CompletedProcess:
    cmd = [sys.executable]
    cmd += ["-c", _NO_SPARK.format(script=str(MEASURE))] if no_spark else [str(MEASURE)]
    return subprocess.run(
        cmd + list(args), cwd=REPO, capture_output=True, text=True, timeout=300
    )


def test_codecs_times_every_codec_without_spark():
    r = _measure("codecs", "all", "3", no_spark=True)
    assert r.returncode == 0, r.stderr
    timed = re.findall(
        r"^(\w+): 3 items in [0-9.]+s = [0-9.]+ ms/item$", r.stdout, re.M
    )
    assert timed == ["jpeg", "png", "flac", "wav"]


def test_no_mode_or_unknown_mode_exits_with_usage():
    for args in ((), ("bogus",), ("codecs", "gif")):
        r = _measure(*args)
        assert r.returncode != 0
        assert "measure.py shuffle > SHUFFLE.md" in r.stderr
        assert r.stdout == ""
