"""The Python worker daemon: zip-import invalidation that skips an
unchanged archive, and sessions whose workers start from it.

Reads of a zip archive's directory are counted by wrapping
``zipimport._read_directory``, which ``zipimporter.invalidate_caches``
calls for each importer of the archive before CPython 3.13."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip importers lazily; the daemon leaves it as is",
)

INVALIDATION = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    from olap_project_spark.worker_daemon import install

    archive = os.path.join(sys.argv[1], "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "A = 1\\n")
    sys.path.insert(0, archive)
    import pkg.a

    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    install()
    importlib.invalidate_caches()  # the first call reads, as a daemon's priming does
    primed = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    unchanged = len(reads) - primed

    with zipfile.ZipFile(archive, "a") as z:  # rewritten in place
        z.writestr("pkg/b.py", "B = 2\\n")
    before = len(reads)
    importlib.invalidate_caches()
    changed = len(reads) - before
    import pkg.b

    print(json.dumps({"primed": primed, "unchanged": unchanged,
                      "changed": changed, "B": pkg.b.B}))
    """
)


@needs_eager_invalidation
def test_invalidation_rereads_only_a_changed_archive(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", INVALIDATION, str(tmp_path)],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["primed"] >= 1
    assert got["unchanged"] == 0
    assert got["changed"] >= 1
    assert got["B"] == 2


@needs_eager_invalidation
def test_repeated_tasks_reread_no_zip_directory(spark):
    """Consecutive one-task jobs: a worker process that runs another
    task read no zip directory since its previous task. The session's
    idle workers take jobs in turn, so jobs run until one worker has
    run three tasks."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        counts = getattr(zipimport, "_probe_counts", None)
        if counts is None:  # once per worker process
            counts = zipimport._probe_counts = {"reads": 0, "reported": 0}
            read = zipimport._read_directory

            def counting(path):
                counts["reads"] += 1
                return read(path)

            zipimport._read_directory = counting
        for _ in batches:
            pass
        since, counts["reported"] = counts["reads"] - counts["reported"], counts["reads"]
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [since]})

    seen: dict[int, list[int]] = {}
    for _ in range(60):
        (row,) = (
            spark.range(0, 1, 1, 1)
            .mapInArrow(probe, "pid long, reads long")
            .collect()
        )
        seen.setdefault(row.pid, []).append(row.reads)
        if len(seen[row.pid]) == 3:
            break
    repeated = {pid: reads[1:] for pid, reads in seen.items() if len(reads) > 1}
    assert repeated, f"no worker process ran two tasks: {seen}"
    assert all(n == 0 for reads in repeated.values() for n in reads), seen


OUTSIDE_DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from olap_project_spark.session import build_session

    spark = build_session(app_name="worker-daemon-test", master="local[1]",
                          shuffle_partitions=1,
                          extra_conf={"spark.ui.enabled": "false"})

    def ident(batches):
        yield from batches

    print(spark.range(0, 3, 1, 1).mapInArrow(ident, "id long").count())
    spark.stop()
    """
)


def test_driver_outside_repository_runs_python_jobs(tmp_path):
    """A driver whose cwd is not the repository and which has no
    PYTHONPATH: the workers still import the daemon module."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", OUTSIDE_DRIVER, REPO],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "3"
