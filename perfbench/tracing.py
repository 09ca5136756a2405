"""In-process layer tracing of the engine's per-batch Python kernels.

The benchmark drives the same per-batch kernel a Spark Python worker runs
(``engine._tile_counts_batch`` or ``engine._convert_batch`` over the
batches ``engine._iter_file_doc_batches`` reads) in this process over
the first corpus files, and records ``time.process_time`` spans around
the public functions of each layer. The spans are installed from outside
the package: each traced function is replaced, for the duration of the
trace, in every ``kml2geojson_spark`` module that holds a reference to
it, so module-level and call-time imports are both covered.

A layer's self time is its spans' time minus the time of the spans
nested in them; the kernel's own span minus everything inside it is
``engine.kernel_self``.
"""

from __future__ import annotations

import sys
import time
import types
from contextlib import contextmanager
from typing import Callable

# (module, function, layer name) — generators are timed per next() call
TRACED = (
    ("kml2geojson_spark.kmlparse_fast", "simple_point_xy", "kmlparse_fast.simple_point_xy"),
    ("kml2geojson_spark.kmlparse_stream", "stream_point_xy", "kmlparse_stream.stream_point_xy"),
    ("kml2geojson_spark.kmlparse", "parse_kml", "kmlparse.parse_kml"),
    ("kml2geojson_spark.convert_core", "iter_point_coords", "convert_core.iter_point_coords"),
    ("kml2geojson_spark.convert_core", "build_feature_collection_dict", "convert_core.build"),
    ("kml2geojson_spark.convert_core", "build_layers_dicts", "convert_core.build"),
    ("kml2geojson_spark.convert_core", "build_style_catalog", "convert_core.build"),
    ("kml2geojson_spark.convert_core", "convert_kml_string", "convert_core.convert_kml_string"),
    ("kml2geojson_spark.engine", "iter_docs_from_arrow", "engine.reassemble"),
    ("kml2geojson_spark.spatial.cells", "cell_encode_np", "spatial.cells.cell_encode_np"),
)
LANES = ("kmlparse_fast.simple_point_xy", "kmlparse_stream.stream_point_xy")


class Tracer:
    """Span stack with per-layer self time, call counts and lane
    outcomes, all kept in memory."""

    def __init__(self):
        self.stack: list[list] = []  # [name, start, child_time]
        self.self_s: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self.accepted: dict[str, int] = {}
        self.wasted_s = 0.0
        self.items: dict[str, int] = {}

    def enter(self, name: str) -> None:
        self.stack.append([name, time.process_time(), 0.0])

    def exit(self) -> float:
        name, start, child = self.stack.pop()
        dur = time.process_time() - start
        self.self_s[name] = self.self_s.get(name, 0.0) + dur - child
        if self.stack:
            self.stack[-1][2] += dur
        return dur

    def count(self, name: str, key: dict, n: int = 1) -> None:
        key[name] = key.get(name, 0) + n

    # -- wrappers -----------------------------------------------------------

    def wrap_function(self, name: str, fn: Callable) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            tracer.enter(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                dur = tracer.exit()
            tracer.count(name, tracer.calls)
            if name in LANES:
                if out is None:
                    tracer.wasted_s += dur
                else:
                    tracer.count(name, tracer.accepted)
            elif name == "spatial.cells.cell_encode_np":
                tracer.count(name, tracer.items, len(args[0]))
            return out
        return traced

    def wrap_generator(self, name: str, fn: Callable) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            tracer.count(name, tracer.calls)
            it = fn(*args, **kwargs)
            while True:
                tracer.enter(name)
                try:
                    item = next(it)
                except StopIteration:
                    tracer.exit()
                    return
                tracer.exit()
                tracer.count(name, tracer.items)
                yield item
        return traced

    def wrap_json(self, json_mod):
        tracer = self

        def dumps(*args, **kwargs):
            tracer.enter("convert_core.json_encode")
            try:
                return json_mod.dumps(*args, **kwargs)
            finally:
                tracer.exit()
        proxy = types.SimpleNamespace(**vars(json_mod))
        proxy.dumps = dumps
        return proxy


def _replace(attr: str, orig, wrap, saved: list) -> None:
    """Point every ``kml2geojson_spark`` module's ``attr`` that is
    ``orig`` at ``wrap``, recording what to restore in ``saved``."""
    for m in list(sys.modules.values()):
        if getattr(m, "__name__", "").startswith("kml2geojson_spark") \
                and getattr(m, attr, None) is orig:
            saved.append((m, attr, orig))
            setattr(m, attr, wrap)


@contextmanager
def installed(tracer: Tracer):
    """Replace every traced function (and ``engine``'s ``json`` module)
    wherever a ``kml2geojson_spark`` module references it; restore on
    exit."""
    import importlib
    import inspect

    saved: list = []
    for mod_name, attr, layer in TRACED:
        orig = getattr(importlib.import_module(mod_name), attr, None)
        if orig is None:
            continue
        wrap = (tracer.wrap_generator if inspect.isgeneratorfunction(orig)
                else tracer.wrap_function)(layer, orig)
        _replace(attr, orig, wrap, saved)
    engine = importlib.import_module("kml2geojson_spark.engine")
    if isinstance(getattr(engine, "json", None), types.ModuleType):
        saved.append((engine, "json", engine.json))
        engine.json = tracer.wrap_json(engine.json)
    try:
        yield
    finally:
        for m, attr, orig in reversed(saved):
            setattr(m, attr, orig)


class DriverSpans:
    """Wall-clock spans around driver-side public calls of the timed ops
    (``LineageLog.run_stage``, the parquet write inside it, and
    ``spatial.pip_join``, which sizes, collects and broadcasts the
    polygon side before the join runs), keyed by op number."""

    TARGETS = (
        ("kml2geojson_spark.lineage", "LineageLog", "run_stage", "lineage.run_stage"),
        ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "lineage.write"),
        ("kml2geojson_spark.spatial.ops", None, "pip_join", "spatial.ops.pip_join"),
    )

    def __init__(self):
        self.op = None
        self.s: dict[tuple, float] = {}

    def _wrap(self, name: str, fn: Callable) -> Callable:
        spans = self

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                key = (spans.op, name)
                spans.s[key] = spans.s.get(key, 0.0) + time.perf_counter() - t0
        return traced

    def get(self, op, name: str) -> float:
        return self.s.get((op, name), 0.0)

    @contextmanager
    def installed(self):
        import importlib

        saved: list = []
        for mod_name, cls_name, attr, name in self.TARGETS:
            mod = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(mod, cls_name)
                saved.append((owner, attr, owner.__dict__[attr]))
                setattr(owner, attr, self._wrap(name, owner.__dict__[attr]))
            else:
                orig = getattr(mod, attr)
                _replace(attr, orig, self._wrap(name, orig), saved)
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Kernel drivers
# ---------------------------------------------------------------------------

def _file_batches(paths: list):
    """The engine's worker-side file reader over parquet files."""
    import pyarrow as pa
    from kml2geojson_spark import engine

    rb = pa.RecordBatch.from_arrays([pa.array([str(p) for p in paths])], names=["path"])
    return engine._iter_file_doc_batches(iter([rb]))


def kernel_pass(kind: str, paths: list, res: int, tracer: Tracer | None) -> int:
    """Run one per-batch kernel over every batch of ``paths``; returns the
    number of documents. With a tracer, reading, the kernel and the
    layers inside it are spans."""
    from kml2geojson_spark import engine

    if kind == "tiles":
        def kernel(rb):
            return engine._tile_counts_batch(engine.iter_docs_from_arrow(rb), res)
    else:
        def kernel(rb):
            return engine._convert_batch(engine.iter_docs_from_arrow(rb),
                                         None, "svg", False)
    docs = 0
    batches = _file_batches(paths)
    while True:
        if tracer:
            tracer.enter("engine.file_read")
        try:
            rb = next(batches)
        except StopIteration:
            rb = None
        if tracer:
            tracer.exit()
        if rb is None:
            return docs
        docs += rb.num_rows
        if tracer:
            tracer.enter("engine.kernel_self")
        try:
            kernel(rb)
        finally:
            if tracer:
                tracer.exit()


def profile(kind: str, paths: list, res: int, passes: int = 3) -> dict:
    """Untraced and traced kernel passes over ``paths``, alternated; the
    fastest of each is kept (CPU time only grows with interference), and
    the fastest traced pass supplies the layers."""
    plain, traced = [], []
    docs = 0
    for _ in range(passes):
        t0 = time.process_time()
        docs = kernel_pass(kind, paths, res, None)
        plain.append(time.process_time() - t0)
        tracer = Tracer()
        with installed(tracer):
            t0 = time.process_time()
            kernel_pass(kind, paths, res, tracer)
            traced.append((time.process_time() - t0, tracer))
    total, tracer = min(traced, key=lambda x: x[0])
    return {"docs": docs, "plain_cpu_s": min(plain), "traced_cpu_s": total,
            "tracer": tracer}


def scaled_layers(prof: dict, op_docs: int, slots: int) -> dict:
    """Kernel layers of one op: the slice's per-document self CPU times
    scaled to the op's documents and divided over the task slots, in
    seconds of op wall."""
    tr: Tracer = prof["tracer"]
    k = op_docs / prof["docs"] / slots
    names = ("engine.file_read", "engine.reassemble", "engine.kernel_self",
             "kmlparse_fast.simple_point_xy", "kmlparse_stream.stream_point_xy",
             "kmlparse.parse_kml", "convert_core.iter_point_coords",
             "convert_core.build", "convert_core.json_encode",
             "convert_core.convert_kml_string", "spatial.cells.cell_encode_np")
    out = {f"{n}.s": tr.self_s.get(n, 0.0) * k for n in names}
    out["lanes.wasted_s"] = tr.wasted_s * k
    f = op_docs / prof["docs"]
    for lane in LANES:
        calls = tr.calls.get(lane, 0)
        out[f"{lane}.calls"] = calls * f
        out[f"{lane}.accept_ratio"] = tr.accepted.get(lane, 0) / calls if calls else 0.0
    out["kmlparse.parse_kml.calls"] = tr.calls.get("kmlparse.parse_kml", 0) * f
    out["engine.reassemble.docs"] = tr.items.get("engine.reassemble", 0) * f
    out["spatial.cells.cell_encode_np.points"] = tr.items.get(
        "spatial.cells.cell_encode_np", 0) * f
    return out


def dump(prof: dict) -> dict:
    """The raw in-process trace of a profile, for the results file."""
    tr: Tracer = prof["tracer"]
    return {"docs": prof["docs"], "plain_cpu_s": prof["plain_cpu_s"],
            "traced_cpu_s": prof["traced_cpu_s"], "self_s": tr.self_s,
            "calls": tr.calls, "accepted": tr.accepted, "wasted_s": tr.wasted_s,
            "items": tr.items}
