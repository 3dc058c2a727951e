"""Python worker daemon for the local JVM that ``session.get_spark`` launches.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task, and on Python 3.11 and 3.12 that makes each ``zipimporter`` re-read
its whole archive directory: about 190 ms per task in a reused worker,
which has ``pyspark.zip`` behind a dozen importers. Here an importer
re-reads its archive only when the archive's stat stamp differs from the
one it read last, so a changed archive is still re-read and a new one
(``addPyFile``) is read by its new importer. The daemon stamps the
importers it has before it runs the stock ``pyspark.daemon``, so the
workers it forks inherit the wrapper and the stamps: a worker's first
task re-reads nothing either.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)  # before the read: a later change re-reads
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the importers every fork inherits
    daemon.manager()
