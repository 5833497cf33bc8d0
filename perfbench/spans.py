"""Spans recorded around calls into the library, from outside it.

A span has a name, a start, an end and a parent; every span of one op
carries that op's id. Counters (py4j call commands, Spark jobs,
materialisations, manifest commits, ...) are added to the innermost
open span, so each span holds its *self* counts. Spans stay in memory
until the run ends.

``Instrumentation`` wraps the library's public functions in place
(``parse``, ``compile_prql``, ``Catalog.load``, ``to_sql``, the
manifest writers, the commit protocols and the DataFrame
materialisation methods) and the py4j client, and puts every original
back on ``uninstall``. Nothing under ``prql_spark/`` is edited.
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import os
import sys
import time
from contextlib import contextmanager


@dataclasses.dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float | None = None
    counts: dict = dataclasses.field(default_factory=dict)
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.enabled = False
        self.muted = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(),
                 self._stack[-1] if self._stack else None, self.op,
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def quiet(self, read):
        """Call ``read`` with counting paused: the benchmark's own JVM
        traffic is not charged to the span that is open."""
        muted, self.muted = self.muted, True
        try:
            return read()
        finally:
            self.muted = muted

    def inside(self, prefix: str) -> bool:
        """Whether an open span's name starts with ``prefix``."""
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and not self.muted and self._stack:
            c = self.spans[self._stack[-1]].counts
            c[key] = c.get(key, 0) + n


def children(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            out.setdefault(s.parent, []).append(i)
    return out


def self_time(spans: list[Span], i: int, kids: dict[int, list[int]]) -> float:
    """Span ``i``'s duration minus the part of it its children cover
    (the union of their intervals, clipped to the parent)."""
    s = spans[i]
    ivs = sorted(
        (max(spans[k].start, s.start), min(spans[k].end, s.end))
        for k in kids.get(i, ())
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return s.dur - covered


def subtree_counts(spans: list[Span], i: int, kids, key: str,
                   stop: frozenset = frozenset()) -> float:
    """Sum of ``key`` over span ``i`` and its descendants, not
    descending into spans whose name is in ``stop``."""
    total = spans[i].counts.get(key, 0)
    for k in kids.get(i, ()):
        if spans[k].name not in stop:
            total += subtree_counts(spans, k, kids, key, stop)
    return total


def ast_nodes(node) -> int:
    """Number of AST nodes (dataclass instances) reachable from
    ``node``."""
    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        return 1 + sum(ast_nodes(getattr(node, f.name))
                       for f in dataclasses.fields(node))
    if isinstance(node, (list, tuple)):
        return sum(ast_nodes(x) for x in node)
    if isinstance(node, dict):
        return sum(ast_nodes(x) for x in node.values())
    return 0


MANIFEST_WRITERS = (
    "snapshot_write", "merge_snapshot", "delete_snapshot",
    "compact_snapshot", "optimize_snapshot", "vacuum_snapshot",
    "snapshot_restore", "attach_stats",
)
MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def local_path(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class Instrumentation:
    """Installs the wrappers; ``jobs()`` reads the JVM's job counter."""

    def __init__(self, tracer: Tracer, jobs):
        self.tracer = tracer
        self.jobs = jobs
        self._undo: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _replace_function(self, orig, wrapper) -> None:
        """Swap ``orig`` for ``wrapper`` in every loaded library module
        that holds it, so ``from x import f`` bindings see it too."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (
                name.startswith("prql_spark") or name == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._set(mod, attr, wrapper)

    def _jobs(self) -> int:
        return self.tracer.quiet(self.jobs)

    def _spanned(self, name: str, fn, on_result=None, **attrs_of):
        tracer, jobs = self.tracer, self._jobs

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with tracer.span(name) as s:
                j0 = jobs()
                for key, get in attrs_of.items():
                    s.attrs[key] = get(a, kw)
                try:
                    out = fn(*a, **kw)
                finally:
                    s.counts["jobs"] = s.counts.get("jobs", 0) + jobs() - j0
                if on_result is not None:
                    on_result(s, out)
                return out

        return wrapper

    def install(self) -> None:
        import py4j.java_gateway
        import py4j.protocol
        from pyspark.sql.classic.dataframe import DataFrame

        import prql_spark.compiler as compiler
        import prql_spark.parser as parser
        import prql_spark.sources.manifest as manifest
        import prql_spark.sql_backend as sql_backend
        from prql_spark.sources.catalog import Catalog

        tracer = self.tracer

        def on_parse(s, q):
            s.counts["ast_nodes"] = ast_nodes(q)

        self._replace_function(
            parser.parse, self._spanned("parser.parse", parser.parse, on_parse))
        self._replace_function(
            compiler.compile_prql,
            self._spanned("compiler.compile_prql", compiler.compile_prql))

        def on_sql(s, sql):
            s.counts["sql_bytes"] = len(sql.encode("utf-8"))

        self._replace_function(
            sql_backend.to_sql,
            self._spanned("sql_backend.to_sql", sql_backend.to_sql, on_sql))

        def table_key(a, kw):
            cat, name = a[0], a[1] if len(a) > 1 else kw.get("name")
            version = a[2] if len(a) > 2 else kw.get("version")
            return f"{cat.data_dir}|{cat.fmt}|{name}|{version}"

        self._set(Catalog, "load", self._spanned(
            "catalog.load", Catalog.load, table=table_key))

        for fname in MANIFEST_WRITERS:
            fn = getattr(manifest, fname, None)
            if fn is not None:
                self._replace_function(fn, self._manifest_writer(fname, fn))

        for cls in (manifest.CommitProtocol, *manifest.CommitProtocol.__subclasses__()):
            if "publish" in vars(cls):
                self._set(cls, "publish", self._publish(vars(cls)["publish"]))

        def counted(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                tracer.count("materialize.calls")
                return orig(*a, **kw)

            return wrapper

        for meth in MATERIALIZE_METHODS:
            self._set(DataFrame, meth, counted(getattr(DataFrame, meth)))

        send = py4j.java_gateway.GatewayClient.send_command
        call = py4j.protocol.CALL_COMMAND_NAME

        def send_command(client, command, *a, **kw):
            if command.startswith(call):
                tracer.count("py4j_calls")
            return send(client, command, *a, **kw)

        self._set(py4j.java_gateway.GatewayClient, "send_command", send_command)

    def _manifest_writer(self, fname: str, fn):
        tracer, jobs = self.tracer, self._jobs
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            path = local_path(str(sig.bind_partial(*a, **kw).arguments.get("path", "")))
            outer = not tracer.inside("manifest.")
            before = dir_files(path) if outer and path else {}
            with tracer.span(f"manifest.{fname}", path=path) as s:
                j0 = jobs()
                try:
                    return fn(*a, **kw)
                finally:
                    s.counts["jobs"] = s.counts.get("jobs", 0) + jobs() - j0
                    if outer and path:
                        after = dir_files(path)
                        s.counts["bytes_written"] = sum(
                            size for p, size in after.items()
                            if before.get(p) != size)

        return wrapper

    def _publish(self, orig):
        tracer = self.tracer

        @functools.wraps(orig)
        def publish(*a, **kw):
            ok = orig(*a, **kw)
            if ok:
                tracer.count("manifest.commits")
            return ok

        return publish

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)


def live_manifest_bytes(path: str) -> tuple[int, int]:
    """(bytes on disk under ``path``, bytes the latest manifest
    version references); (0, 0) when ``path`` holds no manifest."""
    import json

    mdir = os.path.join(path, "_manifests")
    try:
        versions = sorted(f for f in os.listdir(mdir)
                          if f.startswith("v") and f.endswith(".json"))
    except OSError:
        return 0, 0
    if not versions:
        return 0, 0
    with open(os.path.join(mdir, versions[-1])) as f:
        live = sum(int(x.get("bytes", 0)) for x in json.load(f)["files"])
    return sum(dir_files(path).values()), live
