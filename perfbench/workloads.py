"""Workload inputs, timed jobs and output checks for the perfbench harness.

Every workload has the same shape: set-up writes a seeded pages parquet
and builds the city's sidewalks and the join's cover; the timed job reads
the pages, geocodes them, joins them to the sidewalks and collects the
coverage tiles.  Traced runs also write the tiles through the program's
lineage-tracked stage writer and resume them.  The workloads differ in
which spatial join runs and in the input properties that join depends on:

- ``pip-tiles``: entities uniform over a 10^9 id space, so nearly every
  page geocodes to its own location; point-in-polygon join.
- ``knn-hotspot``: entities Zipf-skewed over a few thousand ids, so a
  handful of res-9 cells hold most pages and locations repeat; nearest-
  segment (kNN) join.

The program only ever sees the generated pages: the seed picks the entity
ids here, and nothing else seed-dependent is passed to the program.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from tosidewalk_spark.kernel import cells, geom
from tosidewalk_spark.operators import lineage
from tosidewalk_spark.operators import network as N
from tosidewalk_spark.operators import sidewalks as SW
from tosidewalk_spark.operators import spatial as SP
from tosidewalk_spark.sources import synth

GRID = 24                  # grid-city side: 24 x 24 intersections, ~2.1 km
ID_SPACE = 1_000_000_000   # pip-tiles entity id space
HOT_IDS = 4000             # knn-hotspot entity pool
ZIPF_S = 1.1               # knn-hotspot rank weight 1 / (rank + 1)^s
OUT_EVERY = 4              # knn-hotspot: every 4th rank geocodes outside the city
OUT_BAND_M = (200.0, 500.0)  # ... at this distance from the city edge
STAGE_PARTS = 32           # tile partitions, as in plans.pipeline.run_staged
LOSS_SHARE = 0.25          # share of completed tile partitions lost before a resume
SAMPLE = 200               # points whose join rows are checked against the numpy brute force
CHECK_CELLS = 3            # tiles whose counts are checked against the numpy brute force
HOT_CELLS = 10             # "hot cells": the densest 10 res-9 cells
KNN_FIRST_RADIUS = 2       # knn_join defaults, used for the straggler share
KNN_MAX_RING = 8

# city bounding box of synth.osm_grid(g=GRID)
CITY_LAT = (synth.CITY_LAT, synth.CITY_LAT + (GRID - 1) * synth.LAT_STEP)
CITY_LNG = (synth.CITY_LNG, synth.CITY_LNG + (GRID - 1) * synth.LNG_STEP)
# knn_join's conservative cell edge in meters (phase-1 settle bound / ring)
EDGE_MIN_M = cells.cell_size_deg(cells.DEFAULT_RES) * geom.M_PER_DEG * 0.5


@dataclass(frozen=True)
class Spec:
    name: str
    pages: int
    join: str        # "pip" or "knn": the join on the timed path


SPECS = {
    "pip-tiles": Spec("pip-tiles", 300_000, "pip"),
    "knn-hotspot": Spec("knn-hotspot", 1_000, "knn"),
}


# --- inputs ---------------------------------------------------------------

def geocode(entity_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Numpy twin of synth._geocode_from_entity for ``poi_<id>`` entities."""
    h1 = np.array([cells.hash63(f"poi_{int(e)}") for e in entity_ids], dtype=np.int64)
    h2 = (h1 * 31 + 120) % cells.HASH_P
    return (47.60 + ((h1 % 20000) - 10000) * 1e-6,
            -122.33 + ((h2 % 20000) - 10000) * 1e-6)


def city_edge_m(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Meters from a point to the city bounding box (0 inside)."""
    dy = np.maximum.reduce([CITY_LAT[0] - lat, lat - CITY_LAT[1], np.zeros_like(lat)])
    dx = np.maximum.reduce([CITY_LNG[0] - lng, lng - CITY_LNG[1], np.zeros_like(lng)])
    return np.hypot(dy * geom.M_PER_DEG, dx * geom.M_PER_DEG * geom.coslat(lat))


def hotspot_ids(spec: Spec, seed: int) -> np.ndarray:
    """knn-hotspot's seeded entity id per page: Zipf ranks over HOT_IDS
    entities, where rank r geocodes outside the city iff r % OUT_EVERY ==
    OUT_EVERY - 1, so the in-city share does not hinge on which entity a
    seed happens to make hottest."""
    rng = np.random.default_rng(seed)
    cand = rng.choice(ID_SPACE, 12 * HOT_IDS, replace=False)
    edge = city_edge_m(*geocode(cand))
    inside = cand[edge == 0.0]
    outside = cand[(edge > OUT_BAND_M[0]) & (edge < OUT_BAND_M[1])]
    n_out = HOT_IDS // OUT_EVERY
    if len(inside) < HOT_IDS - n_out or len(outside) < n_out:
        raise RuntimeError("too few candidate entities for the hotspot pool")
    ranks = np.arange(HOT_IDS)
    is_out = ranks % OUT_EVERY == OUT_EVERY - 1
    by_rank = np.empty(HOT_IDS, dtype=np.int64)
    by_rank[is_out] = outside[:n_out]
    by_rank[~is_out] = inside[:HOT_IDS - n_out]
    weights = 1.0 / (ranks + 1.0) ** ZIPF_S
    return by_rank[rng.choice(HOT_IDS, spec.pages, p=weights / weights.sum())]


def page_entities(spark: SparkSession, spec: Spec, seed: int) -> DataFrame:
    """(page, ent): the seeded entity id each page mentions."""
    if spec.join == "pip":
        return spark.range(spec.pages).select(
            F.col("id").alias("page"),
            F.pmod(F.xxhash64(F.lit(seed), "id"), F.lit(ID_SPACE)).alias("ent"))
    return spark.createDataFrame(pd.DataFrame(
        {"page": np.arange(spec.pages, dtype=np.int64), "ent": hotspot_ids(spec, seed)}))


def write_pages(spark: SparkSession, spec: Spec, seed: int, path: str) -> None:
    """Seeded pages in the program's pages schema (url, warc_ts, html,
    text, lang), one ``poi_<id>`` mention each, written as parquet."""
    text = ("CONCAT('visit poi_', CAST(ent AS STRING), ' near block ', "
            "CAST(page % 1000 AS STRING), ' in sector ', CAST(page % 37 AS STRING), "
            "' filler segment ', CAST(page % 97 AS STRING), ' of page text corpus')")
    (page_entities(spark, spec, seed)
     .select(
         F.expr(f"CONCAT('https://site', CAST(page % 997 AS STRING), '.example/s{seed}/p/', "
                "CAST(page AS STRING))").alias("url"),
         F.expr("TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, page * 137)"
                ).alias("warc_ts"),
         F.expr(f"CAST(CONCAT('<html><body><p>', {text}, '</p></body></html>') AS BINARY)"
                ).alias("html"),
         F.expr(text).alias("text"),
         F.expr("ELEMENT_AT(ARRAY('en','de','fr','es'), CAST(page % 4 AS INT) + 1)").alias("lang"))
     .write.mode("overwrite").parquet(path))


def input_checksum(spark: SparkSession, path: str) -> tuple[int, int]:
    row = (spark.read.parquet(path)
           .agg(F.count("*").alias("n"),
                F.sum(F.pmod(F.xxhash64("url", "text", "lang"), F.lit(2 ** 31))).alias("h"))
           .first())
    return int(row.n), int(row.h)


# --- city network (set-up) ------------------------------------------------

def build_sidewalks(spark: SparkSession) -> DataFrame:
    """Grid city -> drivable streets -> split at intersections -> sidewalks,
    materialized (the network/sidewalks layer)."""
    nodes, ways = synth.osm_grid(spark, g=GRID)
    gw = N.geom_ways(nodes, N.split_streets(N.filter_streets(ways)))
    return SW.make_sidewalks(gw).localCheckpoint(eager=True)


def build_cover(sidewalks: DataFrame, join: str) -> DataFrame:
    """The spatial join's build side, materialized: res-11 buffers for the
    PIP join, the res-9 segment-by-cell cover for the kNN join."""
    segments = SP.street_segments(sidewalks)
    if join == "pip":
        return SP.street_buffers(segments, res=SP.PIP_COVER_RES).localCheckpoint(eager=True)
    return SP.segments_by_cell(SP.street_buffers(segments)).localCheckpoint(eager=True)


def segments_array(sidewalks: DataFrame) -> dict[str, np.ndarray]:
    rows = SP.street_segments(sidewalks).collect()
    return {k: np.array([r[k] for r in rows])
            for k in ("way_id", "segment_id", "alat", "alng", "blat", "blng")}


# --- the timed job --------------------------------------------------------

def geocoded(spark: SparkSession, pages_path: str) -> DataFrame:
    return synth.geo_entities(spark, spark.read.parquet(pages_path))


def spatial_join(join: str, points: DataFrame, cover: DataFrame) -> DataFrame:
    if join == "pip":
        return SP.pip_join(points, cover, cover_res=SP.PIP_COVER_RES)
    return SP.knn_join(points, cover, k=1)


def tiles_rows(tiles: DataFrame) -> list[tuple]:
    """The tiles, collected: the timed job's sink and what the checks read."""
    rows = tiles.select("cell9", "n_pages", "n_matched", "coverage", "raster").collect()
    return sorted((r.cell9, r.n_pages, r.n_matched, r.coverage, tuple(r.raster)) for r in rows)


def stage_tiles(spark: SparkSession, out_dir: str, tiles: DataFrame) -> None:
    """The staged sink: tiles through the lineage-tracked stage writer,
    keyed like plans.pipeline.run_staged's tiles stage."""
    lineage.run_stage_with_resume(
        spark, out_dir, "tiles", tiles,
        lineage.partition_key("cell9", STAGE_PARTS), ["cell9", "n_pages", "n_matched"])


def run_job(spark: SparkSession, join: str, pages_path: str, cover: DataFrame,
            sink: Callable[[DataFrame], Any] = tiles_rows) -> Any:
    """geo_entities -> pip_join | knn_join -> coverage_tiles -> sink.
    Points feed both the join and the tile page counts, so they are cached
    for the job's duration (as bench.py and run_staged do)."""
    points = geocoded(spark, pages_path).persist()
    try:
        return sink(SP.coverage_tiles(points, spatial_join(join, points, cover)))
    finally:
        points.unpersist()


def lose_partitions(out_dir: str, rng: np.random.Generator) -> int:
    """Seeded loss of completed work: delete a LOSS_SHARE of the tile
    partitions, data and lineage rows both.  Returns partitions lost."""
    lin_dir = lineage.lineage_path(out_dir)
    table = pq.read_table(lin_dir)
    parts = np.unique(table.column("part_id").to_numpy())
    lost = rng.choice(parts, max(1, int(round(LOSS_SHARE * len(parts)))), replace=False)
    for p in lost:
        shutil.rmtree(os.path.join(out_dir, "tiles", f"part_id={int(p)}"))
    keep = table.filter(~np.isin(table.column("part_id").to_numpy(), lost))
    for f in os.listdir(lin_dir):
        os.remove(os.path.join(lin_dir, f))
    pq.write_table(keep, os.path.join(lin_dir, "part-kept.parquet"))
    return len(lost)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# --- output checks --------------------------------------------------------

def read_staged_tiles(spark: SparkSession, out_dir: str) -> list[tuple]:
    return tiles_rows(spark.read.parquet(os.path.join(out_dir, "tiles")))


def tiles_checksum(tiles: list[tuple]) -> str:
    return hashlib.sha256(repr(tiles).encode()).hexdigest()[:16]


def check_tiles(tiles: list[tuple], n_pages: int) -> list[str]:
    errors = []
    total = sum(t[1] for t in tiles)
    if total != n_pages:
        errors.append(f"tile n_pages sum {total} != points {n_pages}")
    if any(t[2] > t[1] for t in tiles):
        errors.append("a tile has more matched than pages")
    return errors


def sample_points(points: DataFrame, n_pages: int, seed: int) -> DataFrame:
    """A seeded sample of about SAMPLE points, chosen by url hash."""
    every = max(1, n_pages // SAMPLE)
    return points.filter(F.pmod(F.xxhash64(F.lit(seed), "url"), F.lit(every)) == 0)


def sample_cells(tiles: list[tuple], seed: int) -> list[int]:
    """Seeded tiles to check, drawn from those with matches when any have."""
    rng = np.random.default_rng([seed, 3])
    cells9 = [t[0] for t in tiles if t[2] > 0] or [t[0] for t in tiles]
    return [int(c) for c in rng.choice(cells9, min(CHECK_CELLS, len(cells9)), replace=False)]


def brute_force(pts: list, seg: dict[str, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Numpy kernel over every (sample point, segment) pair: strict
    containment in the 12 m flat-capped buffer (the same closed form and
    operation order as pip_join's refine) and point-segment distance."""
    plat = np.array([p.lat for p in pts])[:, None]
    plng = np.array([p.lng for p in pts])[:, None]
    c = geom.coslat(seg["alat"]) * geom.M_PER_DEG
    mx = (seg["blng"] - seg["alng"]) * c
    my = (seg["blat"] - seg["alat"]) * geom.M_PER_DEG
    px = (plng - seg["alng"]) * c
    py = (plat - seg["alat"]) * geom.M_PER_DEG
    t = (px * mx + py * my) / (mx * mx + my * my + 1e-300)
    ex, ey = px - t * mx, py - t * my
    hw = geom.BUFFER_HALF_WIDTH_M
    inside = (t > 0.0) & (t < 1.0) & (ex * ex + ey * ey < hw * hw)
    dist = geom.point_segment_dist_m(plat, plng, seg["alat"], seg["alng"],
                                     seg["blat"], seg["blng"])
    return inside, dist


def check_pip(pts: list, matches: list, seg: dict[str, np.ndarray]) -> list[str]:
    inside, _ = brute_force(pts, seg)
    got: dict[str, set] = {}
    for r in matches:
        got.setdefault(r.url, set()).add(r.segment_id)
    bad = [p.url for i, p in enumerate(pts)
           if got.get(p.url, set()) != set(seg["segment_id"][inside[i]].tolist())]
    return [f"pip_join differs from brute force on {len(bad)} of {len(pts)} sample points"] if bad else []


def check_knn(pts: list, matches: list, seg: dict[str, np.ndarray]) -> list[str]:
    """knn_join (k=1) must return the brute-force nearest segment, ties
    broken by (dist, way_id, segment_id), for every sample point whose
    nearest segment lies within the guaranteed ring reach."""
    _, dist = brute_force(pts, seg)
    got = {r.url: r.segment_id for r in matches}
    reach = KNN_MAX_RING * EDGE_MIN_M
    bad = 0
    for i, p in enumerate(pts):
        best = np.lexsort((seg["segment_id"], seg["way_id"], dist[i]))[0]
        if dist[i][best] <= reach and got.get(p.url) != seg["segment_id"][best]:
            bad += 1
    return [f"knn_join differs from brute force on {bad} of {len(pts)} sample points"] if bad else []


def check_cells(tiles: list[tuple], cell_points: list, seg: dict[str, np.ndarray],
                join: str) -> list[str]:
    """The job's n_pages and n_matched of a few tiles against the brute
    force over every point in them.  A kNN tile holding a point beyond the
    guaranteed ring reach is skipped: whether it matches is not fixed."""
    if not cell_points:
        return ["no points in the checked tiles"]
    inside, dist = brute_force(cell_points, seg)
    matched = inside.any(axis=1) if join == "pip" else dist.min(axis=1) <= KNN_MAX_RING * EDGE_MIN_M
    sure = np.ones(len(cell_points), dtype=bool) if join == "pip" else matched
    by_cell = {t[0]: t for t in tiles}
    errors = []
    for c in sorted({p.cell9 for p in cell_points}):
        idx = [i for i, p in enumerate(cell_points) if p.cell9 == c]
        if not sure[idx].all():
            continue
        want = (len(idx), int(matched[idx].sum()))
        got = by_cell[c][1:3] if c in by_cell else None
        if got != want:
            errors.append(f"tile {c}: (n_pages, n_matched) {got}, brute force {want}")
    return errors


def straggler_share(pts: list, seg: dict[str, np.ndarray]) -> float:
    """Share of sample points whose nearest segment lies beyond knn_join's
    phase-1 settle bound, so they take the wide second probe."""
    _, dist = brute_force(pts, seg)
    return float(np.mean(dist.min(axis=1) > KNN_FIRST_RADIUS * EDGE_MIN_M))


def input_shares(points: DataFrame) -> dict[str, float]:
    """Distinct-location, hot-cell and in-city shares over all points."""
    in_city = ((F.col("lat") >= CITY_LAT[0]) & (F.col("lat") <= CITY_LAT[1])
               & (F.col("lng") >= CITY_LNG[0]) & (F.col("lng") <= CITY_LNG[1]))
    row = points.agg(F.count("*").alias("n"),
                     F.count_distinct("lat", "lng").alias("locs"),
                     F.sum(in_city.cast("long")).alias("city")).first()
    top = (points.groupBy("cell9").count()
           .orderBy(F.desc("count")).limit(HOT_CELLS).agg(F.sum("count")).first()[0])
    return {"input.distinct_location_share": row.locs / row.n,
            "input.hot_cell_share": top / row.n,
            "input.in_city_share": row.city / row.n}
