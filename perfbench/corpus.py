"""Seeded benchmark inputs, written once per (workload, seed) as parquet.

Three corpora, all generated in a spawn process pool before Spark starts
(generation is never timed):

- ``synthetic``: ``kml2geojson_spark.datagen.synthesize_kml`` documents
  (~25 placemarks each, 20% of coordinates in three hot boxes), packed
  with ``datagen.pack_spans`` into the ``documents_kml`` table shape.
- ``mixed``: this module's own grammar-diverse generator (comments,
  self-closing tags, CDATA, gx:Track, nested MultiGeometry and folders,
  1-8 placemarks per document). Every candidate is run through the
  engine's conversion and its tile lanes; only documents on which
  neither raises are kept, which are the documents the reference
  converts (the engine raises the reference's ``ValueError`` on the
  rest). Each document's tile lane (simple / stream / tree) is recorded
  so the corpus's lane mix is reported with every run.
- ``pip``: the point and polygon tables for the point-in-polygon join,
  parsed from a synthetic corpus with the same per-document functions
  ``engine.extract_points`` and ``engine.extract_features`` run; a fixed
  number of the polygons covers one of the corpus's hot boxes.

A corpus directory holds ``data/*.parquet`` (the op input), ``slice/``
(a one-file subset for the output checks) and ``meta.json`` (counts,
byte sizes, lane census). A complete directory is reused as is.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
from pathlib import Path

# ---------------------------------------------------------------------------
# Mixed-grammar generator
# ---------------------------------------------------------------------------

def _coord(rng: random.Random, dims: int = 2) -> str:
    parts = [f"{rng.uniform(-179.0, 179.0):.6f}", f"{rng.uniform(-84.0, 84.0):.6f}"]
    if dims == 3:
        parts.append(str(rng.randint(0, 3000)))
    return ",".join(parts)


def _point(rng: random.Random) -> str:
    sep = rng.choice(["", " ", "\n  "])
    return (f"<Point><coordinates>{sep}{_coord(rng, rng.choice([2, 3]))}{sep}"
            "</coordinates></Point>")


def _line(rng: random.Random) -> str:
    pts = rng.choice([" ", "\n"]).join(_coord(rng, 3) for _ in range(rng.randint(2, 5)))
    return f"<LineString><tessellate>1</tessellate><coordinates>{pts}</coordinates></LineString>"


def _polygon(rng: random.Random) -> str:
    x, y = rng.uniform(-170, 170), rng.uniform(-80, 80)
    r = rng.uniform(0.01, 1.0)
    ring = " ".join(f"{a:.6f},{b:.6f},0" for a, b in (
        (x - r, y - r), (x + r, y - r), (x + r, y + r), (x - r, y + r), (x - r, y - r)))
    return ("<Polygon><outerBoundaryIs><LinearRing><coordinates>"
            f"{ring}</coordinates></LinearRing></outerBoundaryIs></Polygon>")


def _track(rng: random.Random) -> str:
    k = rng.randint(1, 3)
    whens = "".join(f"<when>2010-05-28T02:0{i}:09Z</when>" for i in range(k))
    coords = "".join(f"<gx:coord>{rng.uniform(-179, 179):.4f} "
                     f"{rng.uniform(-84, 84):.4f} {rng.randint(0, 90)}</gx:coord>"
                     for _ in range(k))
    return f"<gx:Track>{whens}{coords}</gx:Track>"


def _geometry(rng: random.Random, depth: int, comments: bool) -> str:
    r = rng.random()
    if r < 0.45 or depth >= 2:
        return _point(rng)
    if r < 0.60:
        return _line(rng)
    if r < 0.70:
        return _polygon(rng)
    if r < 0.78:
        return _track(rng)
    note = "<!-- parts -->" if comments and rng.random() < 0.5 else ""
    inner = "".join(_geometry(rng, depth + 1, comments) for _ in range(rng.randint(1, 3)))
    return f"<MultiGeometry>{note}{inner}</MultiGeometry>"


def _placemark(rng: random.Random, i: int, flavour: dict) -> str:
    bits = [f"<name>pm {i}</name>"] if rng.random() < 0.85 else []
    if rng.random() < 0.35:
        if flavour["cdata_markup"] and rng.random() < 0.6:
            bits.append("<description><![CDATA[<b>bold</b> &amp; text]]></description>")
        else:
            bits.append("<description><![CDATA[ plain & text ]]></description>")
    if flavour["self_closing"] and rng.random() < 0.6:
        bits.append(rng.choice(["<visibility/>", "<open />", "<Snippet maxLines=\"0\"/>"]))
    if rng.random() < 0.4:
        bits.append(f"<styleUrl>#s{rng.randrange(2)}</styleUrl>")
    if rng.random() < 0.2:
        bits.append("<ExtendedData><Data name=\"k\"><value>v&amp;1</value></Data>"
                    "<SchemaData><SimpleData name=\"s\"> 3.5 </SimpleData>"
                    "</SchemaData></ExtendedData>")
    if flavour["comments"] and rng.random() < 0.4:
        bits.append("<!-- placemark note -->")
    if flavour["mixed_containers"] and rng.random() < 0.5:
        # two container kinds in one placemark: the reference's priority
        # rule needs subtree lookahead, so only the tree lane decides
        bits.append("<MultiGeometry>" + _point(rng)
                    + "<gx:MultiTrack>" + _track(rng) + "</gx:MultiTrack>"
                    + _point(rng) + "</MultiGeometry>")
    else:
        bits.append(_geometry(rng, 0, flavour["comments"]))
    if flavour["nested_placemark"] and rng.random() < 0.3:
        bits.append(f"<Placemark><name>inner {i}</name>{_point(rng)}</Placemark>")
    attr = f' id="pm{i}"' if rng.random() < 0.3 else ""
    return f"<Placemark{attr}>{''.join(bits)}</Placemark>"


def make_mixed_kml(seed: int, index: int) -> str:
    """One grammar-diverse, well-formed KML document (seeded)."""
    rng = random.Random((seed * 1_000_003) ^ (index * 7919) ^ 0x5EED)
    tree = rng.random() < 0.28
    flavour = {
        "comments": rng.random() < 0.55,
        "self_closing": rng.random() < 0.35,
        "cdata_markup": rng.random() < 0.25,
        "mixed_containers": tree and rng.random() < 0.6,
        "nested_placemark": tree,
    }
    n = rng.randint(1, 8)
    pms = [_placemark(rng, i, flavour) for i in range(n)]
    styles = "".join(
        f'<Style id="s{j}"><LineStyle><color>7f0000ff</color><width>{j + 1}</width>'
        "</LineStyle><IconStyle><Icon><href>http://example.com/i.png</href></Icon>"
        "</IconStyle></Style>" for j in range(rng.randint(0, 2)))
    if n >= 2 and rng.random() < 0.4:
        k = n // 2
        body = (f"<Folder><name>outer</name>{''.join(pms[:k])}"
                f"<Folder><name>inner</name>{''.join(pms[k:])}</Folder></Folder>")
    else:
        body = "".join(pms)
    head = "<!-- generated -->" if flavour["comments"] and rng.random() < 0.3 else ""
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<kml xmlns="http://www.opengis.net/kml/2.2" '
            'xmlns:gx="http://www.google.com/kml/ext/2.2">'
            f"{head}<Document><name>mixed {index}</name>{styles}{body}</Document></kml>")


# A document the reference rejects: a Point whose coordinates are empty
# raises ValueError in the reference and in every engine lane.
POISON_KML = ('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
              "<Placemark><name>bad</name><Point><coordinates></coordinates>"
              "</Point></Placemark></Document></kml>")


def tile_lane(kml: str):
    """(lane name, points) for one document, in the fused tile kernel's
    lane order; raises what the kernel would raise."""
    from kml2geojson_spark.convert_core import iter_point_coords
    from kml2geojson_spark.kmlparse import parse_kml
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    from kml2geojson_spark.kmlparse_stream import stream_point_xy

    pts = simple_point_xy(kml)
    if pts is not None:
        return "simple", len(pts)
    pts = stream_point_xy(kml)
    if pts is not None:
        return "stream", len(pts)
    return "tree", sum(1 for _ in iter_point_coords(parse_kml(kml)))


def converts(kml: str):
    """The document's ``tile_lane`` result when the engine's
    reference-parity conversion and its tile lanes both accept it, else
    ``None``."""
    from kml2geojson_spark.convert_core import convert_kml_string

    try:
        convert_kml_string(kml, style_type="svg")
        return tile_lane(kml)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# Parquet writers (run in pool workers)
# ---------------------------------------------------------------------------

def _spans_table(doc_ids, kmls):
    import numpy as np
    import pyarrow as pa
    from kml2geojson_spark.datagen import pack_spans

    kinds, texts, refs, offs, lengths = [], [], [], [], []
    for kml in kmls:
        spans = pack_spans(kml)
        lengths.append(len(spans))
        for s in spans:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offs.append(s["offset"])
    bounds = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=bounds[1:])
    struct = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
         pa.array(refs, pa.string()), pa.array(offs, pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    return pa.table({"doc_id": pa.array(doc_ids, pa.string()),
                     "spans": pa.ListArray.from_arrays(pa.array(bounds), struct)})


def _docs_part(task) -> dict:
    """Generate and write one corpus file of ``count`` documents whose
    indices lie in [lo, end); returns its census."""
    import pyarrow.parquet as pq
    from kml2geojson_spark.datagen import synthesize_kml

    kind, seed, lo, count, end, path = task
    doc_ids, kmls = [], []
    lanes = {"simple": 0, "stream": 0, "tree": 0}
    points = rejected = 0
    index = lo
    while len(kmls) < count:
        if index >= end:
            raise RuntimeError(f"generator rejected too many documents in [{lo}, {end})")
        if kind == "synthetic":
            kml = synthesize_kml(index, seed)
            lane, n = tile_lane(kml)
        else:
            kml = make_mixed_kml(seed, index)
            accepted = converts(kml)
            if accepted is None:
                rejected += 1
                index += 1
                continue
            lane, n = accepted
        lanes[lane] += 1
        points += n
        doc_ids.append(f"doc-{index:09d}")
        kmls.append(kml)
        index += 1
    pq.write_table(_spans_table(doc_ids, kmls), path)
    return {"docs": len(kmls), "points": points, "lanes": lanes,
            "rejected": rejected,
            "kml_bytes": sum(len(k.encode()) for k in kmls)}


def _pip_part(task) -> dict:
    """Parse one slice of a synthetic corpus as ``extract_points`` /
    ``extract_features`` do: write its points, return its polygons."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from kml2geojson_spark.convert_core import (build_feature_collection_dict,
                                                iter_point_coords)
    from kml2geojson_spark.datagen import HOT_BOXES, synthesize_kml
    from kml2geojson_spark.kmlparse import parse_kml

    seed, lo, hi, pt_path = task
    pids, xs, ys, polygons = [], [], [], []
    for i in range(lo, hi):
        root = parse_kml(synthesize_kml(i, seed))
        for fidx, gidx, pos in iter_point_coords(root):
            pids.append(i * 10_000 + fidx * 10 + gidx)
            xs.append(pos[0])
            ys.append(pos[1])
        for fidx, feat in enumerate(build_feature_collection_dict(root)["features"]):
            geom = feat["geometry"]
            if geom["type"] == "Polygon":
                rings = [[list(p[:2]) for p in ring] for ring in geom["coordinates"]]
                xs_, ys_ = [p[0] for p in rings[0]], [p[1] for p in rings[0]]
                w, s, e, n = min(xs_), min(ys_), max(xs_), max(ys_)
                if any(w <= hw and s <= hs and e >= he and n >= hn
                       for hw, hs, he, hn in HOT_BOXES):
                    polygons.append((True, i * 10_000 + fidx, rings))
                elif not any(w <= he and e >= hw and s <= hn and n >= hs
                             for hw, hs, he, hn in HOT_BOXES):
                    polygons.append((False, i * 10_000 + fidx, rings))
    pq.write_table(pa.table({"point_id": pa.array(pids, pa.int64()),
                             "x": pa.array(xs, pa.float64()),
                             "y": pa.array(ys, pa.float64())}), pt_path)
    return {"points": len(pids), "polygons": polygons}


def _write_polygons(parts: list[dict], hot: int, cold: int, path: Path) -> int:
    """The first ``hot`` polygons that cover a whole hot box and the first
    ``cold`` that touch none, in document order (polygons that cover part
    of a hot box are not used): a fixed skew for every seed. The join's
    work and hit count are dominated by the polygons over the hot boxes,
    whose number would otherwise vary from seed to seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    every = [p for part in parts for p in part["polygons"]]
    chosen = ([p for p in every if p[0]][:hot] + [p for p in every if not p[0]][:cold])
    pq.write_table(pa.table({
        "poly_id": pa.array([p[1] for p in chosen], pa.int64()),
        "rings": pa.array([p[2] for p in chosen], pa.list_(pa.list_(pa.list_(pa.float64()))))}),
        path)
    return len(chosen)


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def _merge_census(parts: list[dict]) -> dict:
    out = {"docs": 0, "points": 0, "rejected": 0, "kml_bytes": 0,
           "lanes": {"simple": 0, "stream": 0, "tree": 0}}
    for p in parts:
        for k in ("docs", "points", "rejected", "kml_bytes"):
            out[k] += p[k]
        for lane, n in p["lanes"].items():
            out["lanes"][lane] += n
    return out


def _stop_resource_tracker() -> None:
    """Stop the process the spawn context started to track the pool's
    semaphores, and wait for it, instead of leaving it to exit after this
    one. Runs once the pool and its semaphores are gone."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def prune(parent: Path, keep: int) -> None:
    """Delete all but the ``keep`` most recently used corpus directories."""
    dirs = sorted((d for d in parent.iterdir() if d.is_dir()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def build(root: Path, kind: str, seed: int, *, docs: int, files: int,
          procs: int, slice_docs: int, polygons: tuple = (0, 0)) -> dict:
    """Build (or reuse) one corpus directory and return its meta."""
    import pyarrow.parquet as pq

    meta_path = root / "meta.json"
    if meta_path.is_file():
        os.utime(root)  # most recently used, for prune()
        return json.loads(meta_path.read_text())
    if root.exists():
        shutil.rmtree(root)
    data = root / "data"
    data.mkdir(parents=True)
    per = docs // files
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        if kind == "pip":
            (root / "polygons").mkdir()
            tasks = [(seed, f * per, (f + 1) * per, str(data / f"part-{f:05d}.parquet"))
                     for f in range(files)]
            parts = pool.map(_pip_part, tasks)
            census = {"docs": per * files,
                      "points": sum(p["points"] for p in parts),
                      "polygons": _write_polygons(parts, *polygons,
                                                  root / "polygons" / "part-00000.parquet")}
        else:
            # disjoint document-index ranges per file; the mixed kind
            # skips rejected candidates inside its own range
            stride = per * 4 if kind == "mixed" else per
            tasks = [(kind, seed, f * stride, per, (f + 1) * stride,
                      str(data / f"part-{f:05d}.parquet")) for f in range(files)]
            census = _merge_census(pool.map(_docs_part, tasks))
    finally:
        pool.close()
        pool.join()
        del pool
    _stop_resource_tracker()
    (root / "slice").mkdir()
    first = pq.read_table(data / "part-00000.parquet")
    pq.write_table(first.slice(0, slice_docs), root / "slice" / "part-00000.parquet")
    if kind == "mixed":
        (root / "poison").mkdir()
        pq.write_table(_spans_table(["poison-0"], [POISON_KML]),
                       root / "poison" / "part-00000.parquet")
    census.update(kind=kind, seed=seed, files=files,
                  in_bytes=_dir_bytes(root / "data")
                  + (_dir_bytes(root / "polygons") if kind == "pip" else 0))
    tmp = root / "meta.json.tmp"
    tmp.write_text(json.dumps(census, indent=1))
    os.replace(tmp, meta_path)
    return census
