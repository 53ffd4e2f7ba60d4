"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``).  On CPython 3.10
and 3.11 that makes every ``zipimport.zipimporter`` re-parse its archive's
whole central directory at once: a worker holds one importer per package
it imported from pyspark.zip (14-16 of them), each re-reading the zip's
1,328 entries -- 0.14-0.19 s of CPU per task -- and each keeping a private
copy of the result.  CPython 3.12 made the re-read lazy (gh-103200): one
read per archive after each invalidation, on its next import.

``install()`` replaces ``zipimporter.invalidate_caches`` on 3.10 and 3.11
and skips the re-read while the archive's ``os.stat`` stamp (mtime_ns,
size, inode) is unchanged since its directory was last read: the importer
is pointed back at the shared ``zipimport._zip_directory_cache`` entry.
When the stamp changed, the first importer to see it re-reads the archive
and the others share that read.  The package ``__init__`` installs it, so
every worker that runs a task of this package has it.

Limit: the stamp is all that is compared.  An archive rewritten in place
to the same size within the file system's timestamp granularity keeps its
old directory, and imports from it can then fail with a bad local file
header or read the wrong bytes; 3.12 would re-read it.  Replace an archive
by writing a new file and renaming it over the old one (a new inode).
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> its stat stamp taken just before its last directory read
_stamps: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Install the guard (the package ``__init__`` calls this once per
    process); a no-op outside CPython 3.10-3.11 or when the private
    zipimport names it relies on are missing."""
    if sys.implementation.name != "cpython" or sys.version_info[:2] not in (
        (3, 10),
        (3, 11),
    ):
        return
    importer = getattr(zipimport, "zipimporter", None)
    cache = getattr(zipimport, "_zip_directory_cache", None)
    read = getattr(zipimport, "_read_directory", None)
    reread = getattr(importer, "invalidate_caches", None)
    if not (isinstance(cache, dict) and callable(read) and callable(reread)):
        return

    def read_directory(archive):
        _stamps[archive] = _stamp(archive)
        return read(archive)

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or stamp != _stamps.get(self.archive):
            reread(self)
        else:
            self._files = files

    # directories read before the guard are taken to be current now
    _stamps.update((archive, _stamp(archive)) for archive in list(cache))
    zipimport._read_directory = read_directory
    importer.invalidate_caches = invalidate_caches
