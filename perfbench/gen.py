"""Seeded input generators for the benchmark, with an on-disk cache.

Every input is a pure function of (seed, size). Page coordinates sit on
a lattice of odd multiples of 1e-4 degrees over the whole extent
(lon in (14, 15), lat in (49.5, 50.5)). Obec edges (multiples of 0.1
degrees = 1000 units) and grid-parcel edges (multiples of 1/n_side
degrees, n_side not divisible by 16) are never odd multiples of 1e-4,
so no point ever lies on an edge and the expected answers follow from
integer arithmetic on the lattice indices.

Pages are stored as integer lattice indices ``k_lon``/``k_lat`` next to
the doubles ``lon = 14 + (2 k_lon + 1) / 10000`` so the expected answers
never have to invert a float.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LON0, LAT0 = 14.0, 49.5
UNITS = 10_000  # lattice units per degree
STEPS = 5_000  # lattice points per axis: (2k + 1) / UNITS for k < STEPS
HOT_K = (2_687, 2_812)  # middle quarter of obec cell (5, 5) on both axes
NULL_FRAC = 0.05
HOT_FRAC = 0.25


def lattice_to_deg(k: np.ndarray, origin: float) -> np.ndarray:
    return origin + (2 * k + 1) / float(UNITS)


def _lattice(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Lattice indices, a HOT_FRAC share planted in one megacity cell."""
    k_lon = rng.integers(0, STEPS, n)
    k_lat = rng.integers(0, STEPS, n)
    nhot = int(n * HOT_FRAC)
    k_lon[:nhot] = rng.integers(HOT_K[0], HOT_K[1], nhot)
    k_lat[:nhot] = rng.integers(HOT_K[0], HOT_K[1], nhot)
    perm = rng.permutation(n)
    return k_lon[perm], k_lat[perm]


def pages(seed: int, n: int, with_url: bool = True, null_frac: float = NULL_FRAC) -> pa.Table:
    """Page table: page_id, [url,] k_lon, k_lat, lon, lat (nullable geotags)."""
    rng = np.random.default_rng([seed, 1])
    k_lon, k_lat = _lattice(rng, n)
    null = rng.random(n) < null_frac
    page_id = np.arange(n, dtype=np.int64)
    return _page_table(page_id, k_lon, k_lat, null, with_url)


def _page_table(page_id, k_lon, k_lat, null, with_url: bool = True) -> pa.Table:
    cols = {"page_id": page_id}
    if with_url:
        cols["url"] = np.char.add("https://example.cz/p/", page_id.astype(str))
    cols.update({
        "k_lon": pa.array(k_lon, mask=null),
        "k_lat": pa.array(k_lat, mask=null),
        "lon": pa.array(lattice_to_deg(k_lon, LON0), mask=null),
        "lat": pa.array(lattice_to_deg(k_lat, LAT0), mask=null),
    })
    return pa.table(cols)


def change_batch(seed: int, batch: int, n_table: int, n_update: int, n_new: int) -> pa.Table:
    """One daily change batch: `n_update` existing urls with moved
    coordinates plus `n_new` fresh urls (ids past every earlier batch).
    All geotags are set; distinct urls within a batch."""
    rng = np.random.default_rng([seed, 2, batch])
    upd = rng.choice(n_table, n_update, replace=False).astype(np.int64)
    new = n_table + batch * n_new + np.arange(n_new, dtype=np.int64)
    page_id = np.concatenate([upd, new])
    k_lon, k_lat = _lattice(rng, len(page_id))
    return _page_table(page_id, k_lon, k_lat, np.zeros(len(page_id), dtype=bool))


def _synth_module(repo: str):
    """tools/gen_sf_synth.py, the repo's synthetic text/vector tables."""
    path = os.path.join(repo, "tools", "gen_sf_synth.py")
    spec = importlib.util.spec_from_file_location("gen_sf_synth", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def webtext(repo: str, seed: int, mult: float) -> dict[str, pa.Table]:
    """documents + embeddings at `mult` x sf0.1 row counts."""
    synth = _synth_module(repo)
    rng = np.random.default_rng([seed, 3])
    return {
        "documents": synth.gen_documents(rng, int(5_000 * mult)),
        "embeddings": synth.gen_embeddings(rng, int(2_000 * mult)),
    }


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """Parquet with `files` row-sliced files (one row group each), so the
    scan splits into that many tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=max(part.num_rows, 1))


def cached(root: str, key: str, build) -> str:
    """Directory `root/key`, filled by build(tmp_dir) on a miss. A build
    writes into a temporary sibling that is renamed into place only when
    complete, so a killed run never leaves a half-written entry behind."""
    path = os.path.join(root, key)
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
    return path
