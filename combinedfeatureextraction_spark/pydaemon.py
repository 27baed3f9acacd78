"""PySpark's worker daemon, minus the per-task zip directory re-read.

Every task calls ``importlib.invalidate_caches()``; before Python 3.13
that makes each cached zipimporter re-read its archive's directory
(pyspark.zip: 14-16 importers, 0.1-0.2 s per task). Here an importer
re-reads only when its archive's (mtime, size) changed since it last
read it. Run as ``python -m combinedfeatureextraction_spark.pydaemon``.
"""

import importlib
import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            _reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the importers forked workers inherit
    daemon.manager()
