"""Stamp-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task.  Before 3.13 that makes every ``zipimporter`` on
``sys.path`` re-read its archive's whole central directory: the
spark-core jar (~5,400 entries), ``pyspark.zip`` and the shipped
package zip, tens of milliseconds of CPU per task even when nothing
changed.  Here each importer remembers its archive's
``(st_ino, st_size, st_mtime_ns, st_ctime_ns)`` and re-reads only when
that stamp changed.  The inode and ctime catch a rewrite that keeps the
size and restores the mtime (``cp -p``, ``rsync -t``, a coarse-mtime
filesystem): tools can set the mtime back, not the ctime.  This is not
3.13's behaviour: 3.13 drops the cached directory and reads it again on
the next lookup through the importer.

Dependency-free on purpose (``os``, ``sys``, ``zipimport``): it is
installed when the package is imported, which is how every worker that
runs an engine UDF loads the engine code.  The patch is on the stdlib
class, so it holds for every importer in any process that imports the
package, the driver included.
"""

import os
import sys
import zipimport

_STAMP = "_uniparser_spark_stamp"


def install():
    """Replace ``zipimporter.invalidate_caches`` with the stamp-checked
    version.  No-op on 3.13+ (already lazy) and when already installed."""
    cls = zipimport.zipimporter
    eager = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or eager is None or hasattr(eager, "eager"):
        return

    def invalidate_caches(self):
        """Re-read the archive's directory only if the file changed."""
        # stamp before the read: a rewrite racing the read shows up as a
        # changed stamp on the next call instead of being missed
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        except OSError:
            stamp = None  # gone: let the eager method drop its entries
        if stamp is None or stamp != getattr(self, _STAMP, None):
            eager(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches.eager = eager
    cls.invalidate_caches = invalidate_caches
