"""The paper surface's module-level import closure, pinned.

Each paper-surface module is imported in a fresh interpreter, with no
Spark session, and the exact set of ``olap_project_spark`` modules that
import loads is compared with the expected set. A new module-level
import that drags another part of the package into the pipeline (or
starts a JVM at import time) fails here instead of showing up as
slower startup. Every module of the package must appear in some
entry's closure, so a module no paper-surface import reaches (dead
breadth) fails :func:`test_every_module_is_in_a_closure`."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CLOSURE = {
    "transforms": {"schemas", "transforms", "transforms.clean", "transforms.route"},
    "streaming.pipeline": {
        "schemas", "streaming", "streaming.pipeline", "streaming.windows",
        "transforms", "transforms.clean", "transforms.route",
    },
    "export.daily": {"export", "export.daily", "schemas"},
    "export.scheduler": {"export", "export.daily", "export.scheduler", "schemas"},
    "sources.pos_datasource": {"schemas", "sources", "sources.pos_datasource"},
    "transforms.enrich": {
        "schemas", "transforms", "transforms.clean", "transforms.enrich",
        "transforms.route",
    },
    "sources.rates": {"schemas", "sources", "sources.rates"},
    "queries.transactions": {"queries", "queries.transactions"},
    "export.manifest_sink": {
        "export", "export.daily", "export.manifest_sink", "functions",
        "functions.localframe", "schemas",
    },
    "session": {"session"},
    "worker_daemon": {"worker_daemon"},
    "schemas": {"schemas"},
}

PROBE = """
import importlib, json, sys
importlib.import_module("olap_project_spark." + sys.argv[1])
from pyspark import SparkContext
print(json.dumps({
    "modules": sorted(
        m[len("olap_project_spark."):]
        for m in sys.modules if m.startswith("olap_project_spark.")
    ),
    "jvm": SparkContext._gateway is not None,
}))
"""


@pytest.mark.parametrize("module", sorted(CLOSURE))
def test_import_closure(module):
    out = subprocess.run(
        [sys.executable, "-c", PROBE, module],
        cwd=REPO,
        env={
            **os.environ,
            "PYTHONPATH": os.pathsep.join(
                filter(None, [REPO, os.environ.get("PYTHONPATH")])
            ),
        },
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(got["modules"]) == CLOSURE[module]
    assert not got["jvm"], "importing the module started a JVM"


def test_every_module_is_in_a_closure():
    pkg = os.path.join(REPO, "olap_project_spark")
    modules = set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), pkg)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            if parts:  # the top-level package itself is always loaded
                modules.add(".".join(parts))
    covered = set().union(*CLOSURE.values())
    assert sorted(modules - covered) == []
