"""Span tracer for the benchmark's traced run (``--trace 1``).

Installed from the benchmark's own files; the program is not edited. It
wraps the layer functions that ``pipeline`` and the search path import and
pyspark's action entry points (``count``, ``collect``, ``isEmpty``,
``toPandas``, writer ``parquet``). Each call becomes a span with a parent;
each action is a child of the innermost open span. Spans are kept in memory
and summarised when the run ends.

Layer functions return lazy DataFrames, so most of a layer's work happens in
an action the pipeline calls later (``scan.count()``). An action whose
innermost open span is not a layer span is therefore attributed by lineage:
to the latest layer (in ``LAYERS`` order) whose returned DataFrame appears in
the action's logical plan, or whose returned Column (the token gate) appears
in the plan's text.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

# Pipeline order; lineage attribution picks the latest layer found.
LAYERS = ("scan", "delta", "gate", "embed", "merge", "state", "knn", "ivf")
# (module, attribute, layer): the names run_pipeline and the search path call.
TARGETS = (
    ("vectrekker_spark.pipeline", "scan_directory", "scan"),
    ("vectrekker_spark.pipeline", "detect_changes_versioned", "delta"),
    ("vectrekker_spark.pipeline", "gate_token_count", "gate"),
    ("vectrekker_spark.embedder", "embed_column", "embed"),
    ("vectrekker_spark.operators.delta", "merge_upsert_partitioned", "merge"),
    ("vectrekker_spark.pipeline", "merge_upsert", "state"),
    ("vectrekker_spark.pipeline", "_atomic_replace", "state"),
    ("vectrekker_spark.pipeline", "run_pipeline", "pipeline"),
    ("vectrekker_spark.operators.knn", "knn_join", "knn"),
    ("vectrekker_spark.operators.ann", "ivf_search_cells", "ivf"),
)
_ID_SUFFIX = re.compile(r"#\d+L?")


def _norm(s: str) -> str:
    """Plan/column text without expression ids, quotes or escapes."""
    return _ID_SUFFIX.sub("", s).replace("'", "").replace("\\", "").lower()


def _plan_hashes(jplan) -> set[int]:
    out: set[int] = set()
    todo = [jplan]
    while todo:
        p = todo.pop()
        out.add(p.hashCode())
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


class Span:
    __slots__ = ("name", "layer", "parent", "start", "end", "action", "result")

    def __init__(self, name: str, layer: str, parent: "Span | None", action: bool) -> None:
        self.name = name
        self.layer = layer
        self.parent = parent
        self.action = action
        self.result = None  # a layer function's return value
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one benchmark op at a time; ``take()`` hands them over."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._df_tags: list[tuple[str, int]] = []  # (layer, logical-plan hash)
        self._col_tags: list[tuple[str, str]] = []  # (layer, normalised text)
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str = "", action: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer or (parent.layer if parent else ""), parent, action)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def take(self) -> list[Span]:
        """The finished spans so far; clears them and the lineage tags."""
        out, self.spans = self.spans, []
        self._df_tags.clear()
        self._col_tags.clear()
        return out

    # -- wrappers ----------------------------------------------------------
    def _tag(self, layer: str, result) -> None:
        from pyspark.sql import Column, DataFrame

        if isinstance(result, DataFrame):
            self._df_tags.append((layer, result._jdf.logicalPlan().hashCode()))
        elif isinstance(result, Column):
            self._col_tags.append((layer, _norm(result._jc.toString())))

    def _wrap_layer(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(fn.__name__, layer) as s:
                result = fn(*args, **kwargs)
                s.result = result
            tracer._tag(layer, result)
            return result

        return wrapper

    def _lineage_layer(self, df) -> str:
        if not (self._df_tags or self._col_tags):
            return ""
        jplan = df._jdf.logicalPlan()
        found: set[str] = set()
        if self._df_tags:
            hashes = _plan_hashes(jplan)
            found = {layer for layer, h in self._df_tags if h in hashes}
        if self._col_tags:
            text = _norm(jplan.toString())
            found |= {layer for layer, t in self._col_tags if t in text}
        return max(found, key=LAYERS.index, default="")

    def _wrap_action(self, fn, name: str, df_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            if parent is not None and parent.action:  # take() -> collect()
                return fn(obj, *args, **kwargs)
            layer = parent.layer if parent is not None and parent.layer in LAYERS else ""
            if not layer:
                layer = tracer._lineage_layer(df_of(obj)) or (parent.layer if parent else "")
            with tracer.span(name, layer, action=True):
                return fn(obj, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap_layer(fn, layer))
        for cls, attr, df_of in (
            (DataFrame, "count", lambda d: d),
            (DataFrame, "collect", lambda d: d),
            (DataFrame, "isEmpty", lambda d: d),
            (DataFrame, "toPandas", lambda d: d),
            (DataFrameWriter, "parquet", lambda w: w._df),
        ):
            fn = cls.__dict__[attr]
            self._saved.append((cls, attr, fn))
            setattr(cls, attr, self._wrap_action(fn, f"action.{attr}", df_of))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, fn = self._saved.pop()
            setattr(obj, attr, fn)


def layer_seconds(spans: list[Span]) -> dict[str, float]:
    """Wall seconds per layer: outermost span of each layer, nested spans of
    the same layer not counted twice."""
    out: dict[str, float] = {}
    for s in spans:
        if not s.layer:
            continue
        p = s.parent
        while p is not None and p.layer != s.layer:
            p = p.parent
        if p is None:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur
    return out


def action_seconds(spans: list[Span]) -> float:
    """Seconds inside pyspark actions (actions are never nested)."""
    return sum(s.dur for s in spans if s.action)

