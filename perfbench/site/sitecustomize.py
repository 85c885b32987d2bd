"""Keep the engine's files inside the benchmark's work directory.

The engine hard-codes two absolute roots: its derivation/replay cache
(``.runtime`` beside the source tree) and the fixture root whose
``sf0.01`` set ``sources/derived.py`` derives from at import time.
The benchmark must read and write only inside its own checkout, so
when ``PERFBENCH_WORK`` is set this hook loads every
``data_webhooks_spark`` module with those two path prefixes pointed
into ``$PERFBENCH_WORK`` instead. Nothing else in the source changes.

It is a ``sitecustomize`` so that it also applies in the Python
workers Spark starts (they inherit ``PYTHONPATH`` from the driver and
may import engine modules when unpickling UDFs).
"""

from __future__ import annotations

import importlib.abc
import importlib.machinery
import os
import re
import sys

PACKAGE = "data_webhooks_spark"
# absolute-path string literal prefix in the engine source -> the
# subdirectory of $PERFBENCH_WORK that replaces it
PREFIXES = [
    (re.compile(r'"/[^"\n]*?/\.runtime'), "runtime"),
    (re.compile(r'"/[^"\n]*?/testdata/'), "data/"),
]


class _RelocatingLoader(importlib.machinery.SourceFileLoader):
    work = ""

    def get_code(self, fullname):
        src = self.get_data(self.get_filename(fullname)).decode("utf-8")
        for pattern, sub in PREFIXES:
            src = pattern.sub(lambda _m: '"' + os.path.join(self.work, sub), src)
        return compile(src, self.get_filename(fullname), "exec", dont_inherit=True)


class _Finder(importlib.abc.MetaPathFinder):
    def __init__(self, work: str):
        self.work = work

    def find_spec(self, fullname, path, target=None):
        if fullname != PACKAGE and not fullname.startswith(PACKAGE + "."):
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or not isinstance(spec.loader, importlib.machinery.SourceFileLoader):
            return spec
        loader = _RelocatingLoader(fullname, spec.origin)
        loader.work = self.work
        spec.loader = loader
        return spec


def install(work: str) -> None:
    if not any(isinstance(f, _Finder) for f in sys.meta_path):
        sys.meta_path.insert(0, _Finder(work))


if os.environ.get("PERFBENCH_WORK"):
    install(os.environ["PERFBENCH_WORK"])
