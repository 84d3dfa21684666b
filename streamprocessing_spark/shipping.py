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

``drop_zip_finders`` is the executor-side half: Python task entry points
call it first, so a reused worker does not pay to re-read Spark's zip
archives on every task (see its docstring). Callers reference it as a
module-level global, never via an import inside the task body, so it
ships by value with them.
"""

from __future__ import annotations

import sys
import zipimport


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


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` finders from ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python task, and since Python 3.10 that makes each cached zipimporter
    re-read its whole archive directory. A reused worker holds about a
    dozen of them (pyspark.zip and its subpackages, the py4j zip, the
    Spark jar), which costs 150-450 ms per task on a 4-core box
    (tools/python_task_overhead.py measures it). Deleting
    them is safe because the cache is only a cache: the next import
    through such a path builds a fresh finder from zipimport's in-memory
    directory cache, Spark's archives do not change while a worker lives,
    and pyFiles added later get new sys.path entries with fresh finders.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
