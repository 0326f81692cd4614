"""Driver-side tracing for the benchmark's traced run.

The Spark event log does not tell two things the layer attribution needs:

- which Python line started a job that PySpark does not tag with a call
  site.  ``collect`` and ``toPandas`` set the job's ``callSite.short`` to
  their caller's file:line, but the classic ``DataFrame.count``,
  ``checkpoint`` and ``localCheckpoint`` and the ``DataFrameWriter`` save
  methods call the JVM directly.  ``eager_call_sites`` wraps those methods
  for as long as it is entered, so that their jobs carry
  ``<method> at <caller file>:<line>`` too;
- where the driver spends the time in which no job runs (query planning,
  plan building in Python, results coming back).  ``StackSampler`` samples
  the stack of the thread that made it every ``SAMPLE_S`` seconds and
  records the innermost frame that belongs to a given package.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time

SAMPLE_S = 0.005
EAGER_METHODS = {
    "pyspark.sql.classic.dataframe.DataFrame": ("count", "checkpoint", "localCheckpoint"),
    "pyspark.sql.readwriter.DataFrameWriter": ("save", "parquet", "insertInto",
                                               "saveAsTable"),
}


def _caller_site(name: str, skip: tuple[str, ...]) -> str | None:
    """``<name> at <file>:<line>`` of the innermost frame outside ``skip``."""
    f = sys._getframe(1)
    while f is not None and f.f_code.co_filename.startswith(skip):
        f = f.f_back
    return None if f is None else f"{name} at {f.f_code.co_filename}:{f.f_lineno}"


def _tagged(method, name: str, skip: tuple[str, ...]):
    from pyspark import SparkContext
    from pyspark.traceback_utils import SCCallSiteSync

    @functools.wraps(method)
    def wrapper(*args, **kwargs):
        # the same nesting rule as SCCallSiteSync: the outermost call sets it
        sc = SparkContext._active_spark_context
        outer = SCCallSiteSync._spark_stack_depth == 0 and sc is not None
        if outer:
            site = _caller_site(name, skip)
            if site:
                sc._jsc.setCallSite(site)
        SCCallSiteSync._spark_stack_depth += 1
        try:
            return method(*args, **kwargs)
        finally:
            SCCallSiteSync._spark_stack_depth -= 1
            if outer:
                sc._jsc.setCallSite(None)

    return wrapper


@contextlib.contextmanager
def eager_call_sites():
    """Tag the jobs of ``EAGER_METHODS`` with their Python call site while
    the block runs."""
    import importlib

    import pyspark

    skip = (os.path.dirname(pyspark.__file__) + os.sep, __file__)
    saved = []
    for path, names in EAGER_METHODS.items():
        mod, cls_name = path.rsplit(".", 1)
        cls = getattr(importlib.import_module(mod), cls_name)
        for name in names:
            saved.append((cls, name, cls.__dict__[name]))
            setattr(cls, name, _tagged(cls.__dict__[name], name, skip))
    try:
        yield
    finally:
        for cls, name, method in reversed(saved):
            setattr(cls, name, method)


class StackSampler(threading.Thread):
    """Samples the stack of the thread that creates it and records, per
    sample, the innermost module under ``package_dir`` (``None`` if no
    frame of the package is on the stack)."""

    def __init__(self, package_dir: str):
        super().__init__(daemon=True)
        self.prefix = os.path.abspath(package_dir) + os.sep
        self.target = threading.get_ident()
        self.samples: list[tuple[float, str | None]] = []
        self._stop_evt = threading.Event()

    def module_of(self, frame) -> str | None:
        while frame is not None:
            path = frame.f_code.co_filename
            if path.startswith(self.prefix) and path.endswith(".py"):
                mod = path[len(self.prefix):-3].replace(os.sep, ".")
                return mod[:-len(".__init__")] if mod.endswith(".__init__") else mod
            frame = frame.f_back
        return None

    def run(self) -> None:
        while not self._stop_evt.is_set():
            frame = sys._current_frames().get(self.target)
            self.samples.append((time.time(), self.module_of(frame)))
            del frame
            self._stop_evt.wait(SAMPLE_S)
        self.samples.append((time.time(), None))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def intervals(self) -> list[tuple[float, float, str]]:
        """(start ms, end ms, module) runs of equal samples; each sample
        stands for the time until the next one."""
        out: list[tuple[float, float, str]] = []
        for (t, mod), (t_next, _) in zip(self.samples, self.samples[1:]):
            if mod is None:
                continue
            if out and out[-1][2] == mod and out[-1][1] == t * 1000:
                out[-1] = (out[-1][0], t_next * 1000, mod)
            else:
                out.append((t * 1000, t_next * 1000, mod))
        return out
