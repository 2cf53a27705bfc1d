"""Source-level guard: the engine's behaviour is set by its arguments
and the Spark session, not by environment variables read deep inside
operators. Only `session.py` (the SparkSession factory: core count,
driver memory, BLAS thread pins, master) reads the environment. A new
env knob elsewhere is invisible to callers, to the query registry and
to the benchmark records, so it fails this test until it becomes an
argument or moves into the session factory.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "tensorflow_recorder_spark"

ALLOWED = {"session.py"}

ENV_READ = re.compile(r"\bos\.(environ|getenv)\b|\bfrom\s+os\s+import\b.*\b(environ|getenv)\b")


def test_only_the_session_factory_reads_the_environment():
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = str(py.relative_to(PKG))
        if rel in ALLOWED:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ENV_READ.search(line.split("#")[0]):
                offenders.append(f"{rel}:{i}")
    assert offenders == [], offenders
