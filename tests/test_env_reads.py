"""The package reads no tuning knob from the environment: every
os.environ / getenv access under text_search_spark/ must read one of the
deployment settings below by a literal key. Tuning constants are module
attributes, which tests patch."""

import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "text_search_spark",
)
ALLOWED = {"SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}
ACCESS = re.compile(r"\b(?:environ|getenv)\b")
KEYED_READ = re.compile(
    r"""\b(?:environ\.get\(|environ\[|getenv\()\s*["']([^"']+)["']"""
)


def test_package_reads_only_deployment_env_vars():
    bad = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            src = f.read()
        keys = KEYED_READ.findall(src)
        # an access without a literal key (computed key, the whole
        # mapping) is never on the list
        if len(ACCESS.findall(src)) > len(keys) or not ALLOWED >= set(keys):
            bad.append(f"{os.path.relpath(path, PKG)}: {keys}")
    assert not bad, f"environment reads outside {sorted(ALLOWED)}: {bad}"
