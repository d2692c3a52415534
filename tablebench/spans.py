"""In-memory spans around the table client's layer functions.

The tracer wraps each layer function in every ``iceberg_python_spark``
module that holds it, because ``table/__init__.py`` (and others) import
``read_manifest``, ``bind``, the evaluators and ``write_data_files`` by
name: patching only the defining module would miss those calls. Class
methods are patched on the class. Spans stay in memory and are reduced to
per-layer numbers when the run ends; nothing is written while ops run.

A wrapper costs one attribute test when the tracer is disabled, and the
tracer is only installed for ``--trace 1`` runs.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import time
from collections import defaultdict
from typing import Any, Callable, Dict, List, Optional, Tuple


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "attrs")

    def __init__(self, name: str, op: Optional[int], parent: Optional[int], start: float):
        self.name = name
        self.op = op
        self.parent = parent
        self.start = start
        self.end = start
        self.attrs: Dict[str, float] = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans for the current op while ``enabled``; ``op`` is the
    index of the op the spans belong to (spans of one op share it)."""

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.enabled = False
        self.op: Optional[int] = None
        self._stack: List[int] = []
        self._patched: List[Tuple[Any, str, Any]] = []

    # -- recording -----------------------------------------------------
    def begin(self, name: str) -> Optional[Span]:
        if not self.enabled:
            return None
        span = Span(name, self.op, self._stack[-1] if self._stack else None, time.perf_counter())
        self._stack.append(len(self.spans))
        self.spans.append(span)
        return span

    def finish(self, span: Optional[Span]) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()

    def count(self, key: str, n: float = 1.0) -> None:
        """Add ``n`` to ``key`` on the innermost open span."""
        if self.enabled and self._stack:
            attrs = self.spans[self._stack[-1]].attrs
            attrs[key] = attrs.get(key, 0.0) + n

    def wrap(self, fn: Callable, name: str, after: Optional[Callable] = None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    out = after(span, out, args, kwargs)
                return out
            finally:
                tracer.finish(span)

        return traced

    # -- installation ----------------------------------------------------
    def _patch(self, owner: Any, attr: str, new: Any) -> None:
        self._patched.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, new)

    def patch_function(self, fn: Callable, name: str, after: Optional[Callable] = None) -> None:
        """Replace ``fn`` wherever a package module binds it by name."""
        traced = self.wrap(fn, name, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("iceberg_python_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patch(mod, attr, traced)

    def patch_method(self, cls: type, attr: str, name: str, after: Optional[Callable] = None) -> None:
        raw = inspect.getattr_static(cls, attr)
        if isinstance(raw, classmethod):
            self._patch(cls, attr, classmethod(self.wrap(raw.__func__, name, after)))
        else:
            self._patch(cls, attr, self.wrap(raw, name, after))

    def install(self) -> None:
        """Wrap the public functions of each layer module."""
        from iceberg_python_spark import catalog as catalog_mod
        from iceberg_python_spark import expressions
        from iceberg_python_spark import table as table_mod
        from iceberg_python_spark.expressions import visitors
        from iceberg_python_spark.io import fileio
        from iceberg_python_spark.io import write as io_write
        from iceberg_python_spark.table import manifests, metadata, update

        tracer = self

        def entries(span, out, args, kwargs):
            span.attrs["entries"] = float(len(out))
            return out

        def manifest_bytes(span, out, args, kwargs):
            path = args[0] if args else kwargs.get("path", "")
            local = fileio.to_local(path)
            if os.path.exists(local):
                span.attrs["bytes"] = float(os.path.getsize(local))
            return out

        def data_files(span, out, args, kwargs):
            span.attrs["files"] = float(len(out))
            span.attrs["bytes"] = float(sum(f.get("file_size_in_bytes", 0) for f in out))
            return out

        def written(span, out, args, kwargs):
            data = args[1] if len(args) > 1 else kwargs.get("data", b"")
            span.attrs["bytes"] = float(len(data))
            return out

        def matched(span, out, args, kwargs):
            span.attrs["files_matched"] = float(len(out))
            return out

        def counting_evaluator(span, out, args, kwargs):
            def evaluate(data_file):
                tracer.count("metrics_eval.calls")
                return out(data_file)

            return evaluate

        self.patch_method(catalog_mod.MetastoreCatalog, "load_table", "catalog.load_table")
        self.patch_method(catalog_mod.MetastoreCatalog, "_commit_table", "catalog.commit")
        self.patch_method(metadata.TableMetadata, "read", "metadata.read")
        self.patch_method(metadata.TableMetadata, "write", "metadata.write")
        self.patch_function(manifests.read_manifest_list, "manifests.read_list")
        self.patch_function(manifests.read_manifest, "manifests.read", entries)
        self.patch_function(manifests.write_manifest, "manifests.write", manifest_bytes)
        self.patch_function(manifests.write_manifest_list, "manifests.write", manifest_bytes)
        self.patch_function(expressions.bind, "expr.bind")
        self.patch_function(visitors.inclusive_metrics_evaluator, "expr.metrics_eval", counting_evaluator)
        self.patch_method(table_mod.DataScan, "plan_files", "plan", matched)
        self.patch_method(table_mod.DataScan, "to_df", "scan.to_df")
        self.patch_function(io_write.write_data_files, "write.data_files", data_files)
        self.patch_function(io_write.collect_file_stats, "write.file_stats")
        self.patch_function(fileio.read_bytes, "fileio.read_bytes")
        self.patch_function(fileio.write_bytes, "fileio.write_bytes", written)
        self.patch_function(fileio.exists, "fileio.exists")
        self.patch_function(fileio.list_files, "fileio.list_files")
        self.patch_method(update.ExpireSnapshots, "commit", "maint.expire")
        self.patch_method(table_mod.Transaction, "compact", "maint.compact")
        self.patch_method(table_mod.Transaction, "upsert", "upsert")
        self.patch_method(table_mod.Transaction, "commit_transaction", "commit")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reduction -------------------------------------------------------
    def layer_metrics(self, traced_ops: int) -> Dict[str, float]:
        """Per-layer numbers over the traced ops. ``.ms`` is inclusive
        span time per op; counts are per op unless named otherwise."""
        n = max(traced_ops, 1)
        summary = self.summary()

        def calls(name: str) -> float:
            return summary.get(name, [0.0] * 3)[0]

        def ms(name: str) -> float:
            return summary.get(name, [0.0] * 3)[1] / n

        attr: Dict[Tuple[str, str], float] = defaultdict(float)
        considered = bytes_rewritten = metadata_bytes = 0.0
        for i, s in enumerate(self.spans):
            for k, v in s.attrs.items():
                attr[(s.name, k)] += v
            # sums attributed to an ancestor span of another name
            names = self._ancestor_names(i)
            if s.name == "manifests.read" and "plan" in names:
                considered += s.attrs.get("entries", 0.0)
            if s.name == "write.data_files" and "maint.compact" in names:
                bytes_rewritten += s.attrs.get("bytes", 0.0)
            if s.name == "fileio.write_bytes" and "metadata.write" in names:
                metadata_bytes += s.attrs.get("bytes", 0.0)
        matched = attr[("plan", "files_matched")]
        out = {
            "catalog.load_table.ms": ms("catalog.load_table"),
            "catalog.load_table.calls": calls("catalog.load_table") / n,
            "catalog.commit.ms": ms("catalog.commit"),
            "metadata.read.ms": ms("metadata.read"),
            "metadata.write.ms": ms("metadata.write"),
            "metadata.bytes_per_commit": metadata_bytes / max(calls("metadata.write"), 1.0),
            "manifests.read_list.ms": ms("manifests.read_list"),
            "manifests.read.ms": ms("manifests.read"),
            "manifests.read.calls": calls("manifests.read") / n,
            "manifests.read.entries": attr[("manifests.read", "entries")] / n,
            "manifests.write.ms": ms("manifests.write"),
            "manifests.write.bytes": attr[("manifests.write", "bytes")] / n,
            "expr.bind.ms": ms("expr.bind"),
            "expr.metrics_eval.calls": sum(v for (_, k), v in attr.items() if k == "metrics_eval.calls") / n,
            "plan.ms": ms("plan"),
            "plan.files_considered": considered / n,
            "plan.files_matched": matched / n,
            "plan.prune_ratio": matched / considered if considered else 0.0,
            "scan.to_df.ms": ms("scan.to_df"),
            "exec.ms": ms("exec"),
            "exec.rows_out": attr[("exec", "rows")] / n,
            "write.data_files.ms": ms("write.data_files"),
            "write.data_files.files": attr[("write.data_files", "files")] / n,
            "write.data_files.bytes": attr[("write.data_files", "bytes")] / n,
            "write.file_stats.ms": ms("write.file_stats"),
            "commit.ms": ms("commit"),
            "maint.expire.ms": ms("maint.expire"),
            "maint.compact.ms": ms("maint.compact"),
            "maint.bytes_rewritten": bytes_rewritten / n,
            # the upsert join: Transaction.upsert minus its traced children
            # (scan planning, data-file write and stats)
            "upsert.self_ms": summary.get("upsert", [0.0] * 3)[2] / n,
        }
        for op in ("read_bytes", "write_bytes", "exists", "list_files"):
            out[f"fileio.{op}.calls"] = calls(f"fileio.{op}") / n
            out[f"fileio.{op}.ms"] = ms(f"fileio.{op}")
        return out

    def summary(self) -> Dict[str, List[float]]:
        """{span name: [calls, total ms, self ms]}; self time excludes
        the time covered by child spans."""
        children_ms: Dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children_ms[s.parent] += s.ms
        out: Dict[str, List[float]] = {}
        for i, s in enumerate(self.spans):
            row = out.setdefault(s.name, [0.0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.ms
            row[2] += s.ms - children_ms[i]
        return out

    def _ancestor_names(self, i: int) -> set:
        names = set()
        p = self.spans[i].parent
        while p is not None:
            names.add(self.spans[p].name)
            p = self.spans[p].parent
        return names
