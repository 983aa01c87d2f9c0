"""Make Python-side operators shippable to executors from anywhere.

cloudpickle serializes module-level functions of importable modules BY
REFERENCE (module name + qualname): executor Python workers then need the
package on their sys.path, which holds in this repo's cwd but not when a
host (the external driver) imports __spark_entry__.py from elsewhere.

Registering the package's modules for pickle-BY-VALUE makes every Pandas
UDF / mapInPandas kernel self-contained — the function body travels with
the task, no executor-side install or PYTHONPATH needed. This is also the
right posture for a real cluster: the engine works without shipping wheels
to every node. Idempotent and cheap; called before any Python-side
operator is constructed.

The same by-value shipping carries ``guard_zip_caches``, the first call
of every Python kernel in the package (see its docstring).
"""

from __future__ import annotations

import os
import sys


def ensure_shippable() -> None:
    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover - vendored path moved
        import cloudpickle  # type: ignore[no-redef]
    for name, mod in list(sys.modules.items()):
        if name == "streamprocessing_spark" or name.startswith("streamprocessing_spark."):
            try:
                cloudpickle.register_pickle_by_value(mod)
            except Exception:  # noqa: BLE001 - best-effort; ref-pickling still works in-repo
                pass


def guard_zip_caches() -> None:
    """Stop the Python worker re-reading unchanged zip archives per task.

    Before every task, ``pyspark.worker`` calls
    ``importlib.invalidate_caches()`` (worker_util.setup_spark_files). On
    CPython < 3.12 that makes every ``zipimporter`` on the worker's path
    re-read its archive's central directory. A worker holds ~16 of them
    on pyspark.zip (one per package directory imported from it), so each
    task re-parses a 1,328-entry directory 16 times: ~250 ms of CPU per
    task against a ~1 ms kernel. CPython 3.12 made the invalidation lazy
    (gh-103200).

    The first call in a worker process replaces
    ``zipimporter.invalidate_caches`` with a version that re-reads an
    archive only when its ``(st_mtime_ns, st_size)`` differs from the
    stamp of its last read, so a rewritten zip is still seen. One read
    per archive change serves every importer of that archive. Later
    calls, and every call on Python >= 3.12, return at once.

    Workers of a local ``get_spark`` session import pyspark from an
    installed package, not the zip (``session.worker_daemon_confs``), so
    there the guard has little to save. It matters for everything else:
    sessions the engine did not build (a host's own), cluster
    executors, and installs where the daemon keeps the zip first.

    Kernels call this as a module-level name, so it ships by value with
    them (ensure_shippable): the worker never imports this package. It
    must therefore use nothing but the standard library.
    """
    if sys.version_info >= (3, 12):
        return
    import zipimport

    if getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at its last read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            # gone or unreadable: the stock path drops the directory, and
            # no stamp may vouch for it if the file comes back
            read_stamps.pop(self.archive, None)
            self._dir_stamp = None
            reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_dir_stamp", None) == stamp:
            return
        if read_stamps.get(self.archive) == stamp:
            # another importer of this archive already read this version
            self._files = zipimport._zip_directory_cache.get(self.archive, {})
        else:
            reread(self)
            read_stamps[self.archive] = stamp
        self._dir_stamp = stamp

    invalidate_caches.stat_guarded = True  # type: ignore[attr-defined]
    zipimport.zipimporter.invalidate_caches = invalidate_caches  # type: ignore[method-assign]
