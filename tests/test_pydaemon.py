"""The worker daemon's zip-directory cache (combinedfeatureextraction_spark
.pydaemon). The import-system checks run in a subprocess so this test
session's own zipimporters are never wrapped."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    archive = sys.argv[1]

    def write(mods):
        with zipfile.ZipFile(archive, "w") as z:
            for m in mods:
                z.writestr(m + ".py", "VALUE = %r\\n" % m)

    write(["mod_a"])
    sys.path.insert(0, archive)
    import mod_a
    import combinedfeatureextraction_spark.pydaemon  # noqa: F401

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()  # may read once: the importer has no stamp yet
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    unchanged = reads.count(archive)

    reads.clear()
    write(["mod_a", "mod_b"])
    importlib.invalidate_caches()
    import mod_b
    print(unchanged, min(reads.count(archive), 1), mod_b.VALUE)
    """
)


def test_daemon_rereads_only_changed_zips(tmp_path):
    """An unchanged archive is not re-read by invalidate_caches; a
    rewritten one is, so a module added to it becomes importable."""
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["0", "1", "mod_b"]


def test_local_session_workers_run_wrapped_invalidate(spark):
    """Under the local master get_spark starts the daemon module, and a
    mapInPandas worker's importers carry the stamp only the wrapper sets."""
    import pandas as pd

    assert (
        spark.conf.get("spark.python.daemon.module")
        == "combinedfeatureextraction_spark.pydaemon"
    )

    def probe(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        stamped = sum(
            getattr(imp, "_read_stamp", None) is not None
            for imp in sys.path_importer_cache.values()
        )
        name = zipimport.zipimporter.invalidate_caches.__name__
        yield pd.DataFrame({"fn": [name], "stamped": [stamped]})

    rows = spark.range(4).mapInPandas(probe, "fn string, stamped int").collect()
    assert rows
    for r in rows:
        if sys.version_info < (3, 13):
            assert r.fn == "_invalidate_if_changed" and r.stamped > 0
        else:
            assert r.fn == "invalidate_caches" and r.stamped == 0
