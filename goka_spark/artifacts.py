"""Session artifact store: one cache for the shared intermediates the
query registry builds (postings and signature frames, tokenizer
tables, the ANN index handle).

``@artifact("documents")`` makes a getter's body the build expression
over the ``documents`` table of its ``sf``.  One key rule for all: an
entry is keyed ``(getter name, sf, defaulted params)`` and holds
``(applicationId, input fingerprint, value)``; a lookup whose
application or fingerprint differs rebuilds the value and replaces
the entry.  The application is checked because a ``localCheckpoint()``ed
frame dies with its SparkContext: after a restart in the same process
it fails on its first action.  The fingerprint covers each table an
artifact reads, directly or through the artifacts it is built on, so a
rewritten input rebuilds everything over it at the next lookup with no
dependency graph: goka's storage rule (local state is trusted as of
the offset it checkpointed), with file listings for offsets.

Getters take ``spark`` and ``sf`` by those names; their other
parameters without a default are the frames of the named tables, in
order.  Lookups take no lock: racing misses both build, the last stays.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import stat
import time
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from goka_spark.hadoop_fs import hfs

#: (name, sf, params) -> (applicationId, fingerprint, value)
_STORE: dict = {}
#: name -> getter
_ARTIFACTS: dict = {}


def _hidden(name: str) -> bool:
    # Spark's file index skips these too (_SUCCESS, .crc, .part-* temps)
    return name[:1] in (".", "_")


def _local_listing(path: str) -> list:
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return []  # nothing for Spark to read
    if not stat.S_ISDIR(st.st_mode):
        return [f":{st.st_size}:{st.st_mtime_ns // 1_000_000}"]
    out, todo = [], [(path, "")]
    while todo:
        d, rel = todo.pop()
        with os.scandir(d) as it:
            for e in it:
                if _hidden(e.name):
                    continue
                if e.is_dir():
                    todo.append((e.path, f"{rel}{e.name}/"))
                else:
                    s = e.stat()
                    out.append(f"{rel}{e.name}:{s.st_size}:"
                               f"{s.st_mtime_ns // 1_000_000}")
    return out


def _hadoop_listing(path: str, spark: SparkSession) -> list:
    fs, _, p = hfs(spark, path)
    base = p.toUri().getPath() or ""
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()[len(base):].lstrip("/")
        if not any(_hidden(part) for part in rel.split("/")):
            out.append(f"{rel}:{st.getLen()}:{st.getModificationTime()}")
    return out


def dataset_fingerprint(path: str, spark: "SparkSession | None" = None) -> str:
    """Content fingerprint of a parquet file or directory: a hash of
    the sorted (relative path, size, mtime in ms) listing of the files
    Spark would read.  Local and ``file:`` paths are listed with
    ``os.scandir`` (microseconds); other schemes through the Hadoop
    FileSystem of ``spark`` or the active session."""
    u = urlparse(path)
    if u.scheme in ("", "file"):
        entries = _local_listing(u.path if u.scheme else path)
    else:
        entries = _hadoop_listing(path, spark or SparkSession.getActiveSession())
    h = hashlib.md5()
    for e in sorted(entries):
        h.update(f"{e}\n".encode())
    return h.hexdigest()[:16]


def _stamp(spark: "SparkSession | None", sf: str, tables: tuple) -> tuple:
    app = spark.sparkContext.applicationId if spark is not None else None
    return app, tuple(dataset_fingerprint(f"{sf}/{t}.parquet", spark)
                      for t in tables)


def _current(key: tuple, stamp: tuple):
    entry = _STORE.get(key)
    return entry if entry is not None and entry[:2] == stamp else None


class _Artifact:
    def __init__(self, build, tables: tuple):
        functools.update_wrapper(self, build)
        _ARTIFACTS[build.__name__] = self
        self.build, self.tables = build, tables
        self.sig = inspect.signature(build)
        ps = self.sig.parameters.values()
        self.keyed = {p.name: p.default for p in ps if p.default is not p.empty}
        self.frames = [p.name for p in ps if p.default is p.empty
                       and p.name not in ("spark", "sf")]

    def locate(self, args: tuple, kwargs: dict) -> tuple:
        a = self.sig.bind(*args, **kwargs)
        a.apply_defaults()
        a = a.arguments
        spark = a.get("spark") or (a[self.frames[0]].sparkSession
                                   if self.frames else None)
        key = (self.__name__, a["sf"], tuple(a[n] for n in self.keyed))
        return key, _stamp(spark, a["sf"], self.tables)

    def __call__(self, *args, **kwargs):
        key, stamp = self.locate(args, kwargs)
        entry = _current(key, stamp)
        if entry is None:
            entry = _STORE[key] = (*stamp, self.build(*args, **kwargs))
        return entry[2]


def artifact(*tables: str):
    """Store the decorated getter's value under the key rule above;
    ``tables`` are the tables of ``sf`` it reads."""
    return lambda build: _Artifact(build, tables)


def warm(spark: SparkSession, sf: str, names) -> dict:
    """Build each named artifact of ``sf`` that is not already current,
    forcing frames with ``count()``.  An item of ``names`` is a getter
    name (default params) or a ``(name, {param: value})`` pair.
    Returns ``{item label: seconds}``; a current artifact costs one
    lookup and starts no Spark job."""
    from goka_spark.queries.base import load

    frames, seconds = {}, {}
    for item in names:
        name, params = (item, {}) if isinstance(item, str) else item
        get = _ARTIFACTS[name]
        t0 = time.perf_counter()
        key = (name, sf, tuple({**get.keyed, **params}.values()))
        if _current(key, _stamp(spark, sf, get.tables)) is None:
            kw = {"sf": sf, **params}
            if "spark" in get.sig.parameters:
                kw["spark"] = spark
            for f, t in zip(get.frames, get.tables):
                if t not in frames:
                    frames[t] = load(spark, sf, t)[t]
                kw[f] = frames[t]
            value = get(**kw)
            for v in value if isinstance(value, tuple) else (value,):
                if isinstance(v, DataFrame):
                    v.count()
        label = name + "".join(f"[{k}={v}]" for k, v in params.items())
        seconds[label] = time.perf_counter() - t0
    return seconds


def clear(names=None) -> None:
    """Drop the entries of the named artifacts (all when ``None``); the
    next lookup of each rebuilds it."""
    for key in [k for k in _STORE if names is None or k[0] in names]:
        del _STORE[key]
