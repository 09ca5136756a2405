"""The workloads: one timed op each, run through the engine's public
entry points, plus the output checks every op and every run must pass.

Each workload class takes the Spark session, its corpus directory and
corpus meta, and offers:

- ``op(k)``: the timed operation; returns the op's output summary;
- ``check_op(result)``: per-op output check, run outside the timed
  region (a mismatch counts the op as failed); the first op's output
  summary is kept as ``first`` and recorded with the run, so runs of one
  seed can be compared;
- ``check_run()``: slice-level equivalence checks, once per run;
- ``docs`` / ``points`` / ``out_bytes(result)`` for the metrics.
"""

from __future__ import annotations

import shutil
from pathlib import Path

RES_TILES = 8
RES_PIP = 10


def _rows_digest(df, cols) -> tuple:
    """Order-independent digest of a DataFrame: (rows, sum of 32-bit
    row hashes, xor of 64-bit row hashes)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
        F.bit_xor(F.col("h")).alias("x")).collect()[0]
    return (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))


class Tiles:
    """spans parquet → ``engine.tile_counts_from_parquet(res=8)`` → totals."""

    res = RES_TILES

    def __init__(self, spark, root: Path, meta: dict, work: Path):
        self.spark, self.root, self.meta = spark, root, meta
        self.docs, self.points = meta["docs"], meta["points"]
        self.first = None
        self.notes: dict = {}

    def op(self, k: int):
        from pyspark.sql import functions as F
        from kml2geojson_spark.engine import tile_counts_from_parquet

        tiles = tile_counts_from_parquet(self.spark, str(self.root / "data"), self.res)
        r = tiles.agg(F.count(F.lit(1)).alias("tiles"),
                      F.sum("n_features").alias("features"),
                      F.sum("n_docs").alias("doc_cells")).collect()[0]
        return (int(r["tiles"]), int(r["features"]), int(r["doc_cells"]))

    def check_op(self, result) -> bool:
        if self.first is None:
            self.first = result
        # every tiled feature is one point the corpus census counted
        return result == self.first and result[1] == self.points

    def out_bytes(self, result) -> int:
        return result[0] * 24  # tile table rows: three 8-byte columns

    def check_run(self) -> bool:
        """On the slice, the fused file-granular path equals the
        ``extract_points`` → tile aggregate path the spark-submit job
        runs."""
        from kml2geojson_spark.engine import tile_counts_from_parquet
        from kml2geojson_spark.spatial import tile_assignments_from_docs

        sl = str(self.root / "slice")
        fused = sorted(tuple(r) for r in tile_counts_from_parquet(
            self.spark, sl, self.res).select("cell_id", "n_features", "n_docs").collect())
        ref = sorted(tuple(r) for r in tile_assignments_from_docs(
            self.spark.read.parquet(sl), self.res).select(
            "cell_id", "n_features", "n_docs").collect())
        self.notes["slice_tiles"] = len(ref)
        return fused == ref and len(ref) > 0

    def poison_probe(self) -> dict:
        """One small op over a file holding a single document the
        reference rejects; records whether the job survived it."""
        from pyspark.sql import functions as F
        from kml2geojson_spark.engine import tile_counts_from_parquet

        try:
            tile_counts_from_parquet(self.spark, str(self.root / "poison"),
                                     self.res).agg(F.count(F.lit(1))).collect()
        except Exception as exc:  # the probe exists to record this failure
            return {"failed": True, "error": type(exc).__name__}
        return {"failed": False, "error": None}


class ConvertWrite:
    """spans parquet → ``convert_documents(style_type="svg")`` →
    ``sinks.export_layers_table`` → ``LineageLog.run_stage`` checkpoint
    under a fresh root per op (a committed snapshot is returned without
    rebuilding, so reusing a root would time nothing)."""

    COLS = ("doc_id", "layer_idx", "layer_name", "geojson", "style_json")

    def __init__(self, spark, root: Path, meta: dict, work: Path):
        self.spark, self.root, self.meta = spark, root, meta
        self.docs, self.points = meta["docs"], meta["points"]
        self.work = work / "convert_roots"
        shutil.rmtree(self.work, ignore_errors=True)
        self.first = None
        self.notes: dict = {}

    def op(self, k: int):
        from kml2geojson_spark.engine import convert_documents
        from kml2geojson_spark.lineage import LineageLog
        from kml2geojson_spark.sinks import export_layers_table

        root = self.work / f"op{k}"
        data = self.spark.read.parquet(str(self.root / "data"))
        _, manifest = LineageLog(root).run_stage(
            self.spark, "layers",
            lambda: export_layers_table(convert_documents(data, style_type="svg")),
            params={"seed": self.meta["seed"], "style_type": "svg"})
        committed = root / "layers" / manifest["snapshot_id"]
        nbytes = sum(p.stat().st_size for p in committed.rglob("*") if p.is_file())
        return {"root": root, "data": committed / "data", "bytes": nbytes,
                "rows": manifest["total_rows"]}

    def check_op(self, result) -> bool:
        digest = _rows_digest(self.spark.read.parquet(str(result["data"])), self.COLS)
        result["digest"] = digest
        if self.first is None:
            self.first = digest
            self.check_slice(result["data"])
        shutil.rmtree(result["root"], ignore_errors=True)
        return digest == self.first and result["rows"] == self.docs

    def check_slice(self, data: Path) -> None:
        """The committed layers of the slice's documents equal the
        per-document conversion the engine's parity tests pin."""
        import json
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from kml2geojson_spark.convert_core import convert_kml_string
        from kml2geojson_spark.engine import iter_docs_from_arrow

        expect = {}
        for rb in pq.read_table(self.root / "slice" / "part-00000.parquet").to_batches():
            for doc_id, kml in iter_docs_from_arrow(rb):
                style, layers = convert_kml_string(kml, style_type="svg")
                expect[doc_id] = (json.dumps(layers[0]), json.dumps(style))
        got = {r["doc_id"]: (r["geojson"], r["style_json"]) for r in
               self.spark.read.parquet(str(data)).where(
                   F.col("doc_id").isin(list(expect))).collect()}
        self.notes["slice_ok"] = got == expect and len(expect) > 0
        self.notes["slice_docs"] = len(expect)

    def out_bytes(self, result) -> int:
        return result["bytes"]

    def check_run(self) -> bool:
        return bool(self.notes.get("slice_ok"))


class PipJoin:
    """points × polygon rings → ``spatial.pip_join(points, polygons,
    res)`` with default arguments → hit count."""

    res = RES_PIP

    def __init__(self, spark, root: Path, meta: dict, work: Path):
        self.spark, self.root, self.meta = spark, root, meta
        self.docs, self.points = meta["docs"], meta["points"]
        self.first = None
        self.notes: dict = {}

    def _inputs(self, sub: str):
        return (self.spark.read.parquet(str(self.root / sub)),
                self.spark.read.parquet(str(self.root / "polygons")))

    def op(self, k: int):
        from kml2geojson_spark.spatial import pip_join

        pts, polys = self._inputs("data")
        return pip_join(pts, polys, self.res).count()

    def check_op(self, result) -> bool:
        if self.first is None:
            self.first = result
        return result == self.first and result > 0

    def out_bytes(self, result) -> int:
        return result * 16  # (point_id, poly_id) pairs

    def check_run(self) -> bool:
        """On the slice, the default plan's hits equal the cogroup
        plan's."""
        from kml2geojson_spark.spatial import pip_join

        pts, polys = self._inputs("slice")
        default = pip_join(pts, polys, self.res).count()
        cogroup = pip_join(pts, polys, self.res, rings_distribution="cogroup").count()
        self.notes["slice_hits"] = default
        return default == cogroup and default > 0


# name → (class, corpus kind, files, docs per file, slice docs, extra)
WORKLOADS = {
    "tiles_mixed": (Tiles, "mixed", 16, 400, 200, {}),
    "convert_write": (ConvertWrite, "synthetic", 16, 150, 40, {}),
    "pip_join": (PipJoin, "pip", 16, 150, 2000, {"polygons": (40, 160)}),
}
