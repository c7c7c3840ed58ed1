"""Seeded input generators for the workloads, with the numpy /
pandas expectations the output checks compare against.

Every generator takes the workload seed; the same seed gives the same
files and frames.  The program under test only ever sees what these
functions write or return.

Package dependency: ``write_wrf_cycle`` writes classic-netCDF bytes
through ``curw_wrf_data_pusher_spark.sources.netcdf3.NetCDF3Writer``
(the pure-numpy CDF-2 writer).  If that writer is removed, this
generator needs a writer of its own.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- WRF

#: d03 spatial grid (is_netcdf_ready.sh: south_north=162, west_east=99)
#: laid inside the default Sri Lanka extent so no cell is clipped.
D03_LAT = (5.75, 10.05)
D03_LON = (79.55, 82.15)
KELANI = {"lat_min": 6.6, "lat_max": 7.4, "lon_min": 79.6, "lon_max": 81.0}
STEP_MIN = 15
#: epoch of the measured cycle; the primed (previous) cycle starts
#: ``shift_steps`` steps earlier, so most (tms_id, time) keys overlap.
EPOCH_MIN = 6 * 60  # 2024-06-01 06:00 UTC
MTIME_BASE = 1717290000


def _axes(sn: int, we: int) -> tuple[np.ndarray, np.ndarray]:
    lats = np.linspace(*D03_LAT, sn).astype("f4")
    lons = np.linspace(*D03_LON, we).astype("f4")
    return lats, lons


def _increments(seed: int, cycle: int, system_idx: int, shape) -> np.ndarray:
    """Per-step rain in units of 1/1024 mm.  Odd counts keep every
    3-dp rounding of a diff off the half-way point (k/1024 * 1000 =
    125k/128 has an odd numerator), so HALF_UP and the numpy oracle
    agree exactly; cumulative sums stay exact in float32."""
    rng = np.random.default_rng([seed, cycle, system_idx])
    return 2 * rng.integers(0, 1536, size=shape, dtype=np.int64) + 1


def write_wrf_cycle(
    out_dir: str, seed: int, cycle: int, systems, n_t: int, sn: int,
    we: int, shift_steps: int,
) -> None:
    """One cron cycle's ``{out_dir}/{system}/d03_RAINNC.nc`` files.
    ``cycle`` 1 is the measured push, 0 the previous one (its window
    starts ``shift_steps`` steps earlier and its files are older)."""
    from curw_wrf_data_pusher_spark.sources.netcdf3 import NetCDF3Writer

    lats, lons = _axes(sn, we)
    epoch = EPOCH_MIN - (1 - cycle) * shift_steps * STEP_MIN
    for i, system in enumerate(systems):
        path = os.path.join(out_dir, system, "d03_RAINNC.nc")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cum = np.cumsum(_increments(seed, cycle, i, (n_t, sn, we)), axis=0)
        w = NetCDF3Writer(path)
        w.createDimension("Time", None)
        w.createDimension("south_north", sn)
        w.createDimension("west_east", we)
        xt = w.createVariable("XTIME", "i8", ("Time",))
        xt[:] = STEP_MIN * (np.arange(n_t, dtype="i8") + 1)
        xt.description = (
            f"minutes since 2024-06-01 {epoch // 60:02d}:{epoch % 60:02d}:00"
        )
        dims3 = ("Time", "south_north", "west_east")
        for name, arr in (
            ("XLAT", np.broadcast_to(lats[None, :, None], (n_t, sn, we))),
            ("XLONG", np.broadcast_to(lons[None, None, :], (n_t, sn, we))),
            ("RAINNC", (cum / 1024.0).astype("f4")),
        ):
            v = w.createVariable(name, "f4", dims3)
            v[:] = np.ascontiguousarray(arr)
        w.close()
        t = MTIME_BASE + 9000 * cycle
        os.utime(path, (t, t))


def wrf_expectations(
    seed: int, systems, n_t: int, sn: int, we: int, shift_steps: int,
) -> dict:
    """What a correct push of cycle 1 over a store primed with cycle 0
    leaves behind."""
    cells = sn * we
    checksum_milli = {}
    for i, system in enumerate(systems):
        k = _increments(seed, 1, i, (n_t, sn, we))[1:]
        # round(k/1024, 3) half-up, in thousandths, exact in integers
        checksum_milli[f"WRF_{system}"] = int(((125 * k + 64) // 128).sum())
    # a diff exists from the second step on; key times in minutes
    cur = EPOCH_MIN + STEP_MIN * (np.arange(1, n_t) + 1)
    prev = cur - shift_steps * STEP_MIN
    n_times = np.union1d(cur, prev).size
    lats, lons = _axes(sn, we)
    in_kelani = (
        ((lats >= KELANI["lat_min"]) & (lats <= KELANI["lat_max"])).sum()
        * ((lons >= KELANI["lon_min"]) & (lons <= KELANI["lon_max"])).sum()
    )
    return {
        "pushed_rows": len(systems) * (n_t - 1) * cells,
        "store_keys": len(systems) * cells * int(n_times),
        "checksum_milli": checksum_milli,
        "value_files": len(systems) * (n_t - 1),
        "cells": {"d03": cells, "kelani": int(in_kelani)},
    }


def station_dim(sn: int, we: int) -> pd.DataFrame:
    """The d03 station dimension (station_id, name) named the way the
    push names grid cells: ``wrf_{lat:.6f}_{lon:.6f}``."""
    lats, lons = _axes(sn, we)
    names = [
        f"wrf_{float(la):.6f}_{float(lo):.6f}" for la in lats for lo in lons
    ]
    return pd.DataFrame(
        {"station_id": np.arange(100_000, 100_000 + len(names)), "name": names}
    )


# ------------------------------------------------------------- hybrid


def _lk_minutes(minutes_utc: np.ndarray) -> np.ndarray:
    """Minutes after 2024-06-01 00:00 UTC -> the pushed ``time``
    strings (Asia/Colombo, +05:30)."""
    t = pd.Timestamp("2024-06-01 05:30:00") + pd.to_timedelta(minutes_utc, "m")
    return t.strftime("%Y-%m-%d %H:%M:00").to_numpy()


def store_values(
    seed: int, systems, n_t: int, sn: int, we: int, shift_steps: int,
) -> pd.DataFrame:
    """The forecast values a correct push of cycle 1 over a store
    primed with cycle 0 leaves behind, one row per (d03 station,
    source, time): cycle 1's 3-dp diffs, and cycle 0's at the times
    cycle 1 does not cover."""
    cells = sn * we
    station = np.arange(100_000, 100_000 + cells)
    parts = []
    for i, system in enumerate(systems):
        by_time: dict[str, np.ndarray] = {}
        for cycle in (0, 1):
            epoch = EPOCH_MIN - (1 - cycle) * shift_steps * STEP_MIN
            times = _lk_minutes(epoch + STEP_MIN * (np.arange(1, n_t) + 1))
            k = _increments(seed, cycle, i, (n_t, sn, we))[1:]
            milli = (125 * k + 64) // 128
            by_time.update(zip(times, milli.reshape(n_t - 1, cells)))
        for time, milli in by_time.items():
            parts.append(pd.DataFrame({
                "d03_station_id": station, "source": f"WRF_{system}",
                "time": time, "value": milli / 1000.0,
            }))
    return pd.concat(parts, ignore_index=True)


def gauges(seed: int, n_gauges: int, sn: int, we: int, times) -> dict:
    """A gauge dimension of which ~10 % are inactive, 15-min readings
    at the forecast ``times`` (~3 % missing, so dropna has work to do)
    plus the two hours before them, and an obs->d03 map of each
    gauge's 1-3 nearest d03 cells, ranked by distance, with the
    station ids ``station_dim`` gives the cells."""
    rng = np.random.default_rng([seed, 7])
    g_ids = np.arange(1, n_gauges + 1)
    active = rng.random(n_gauges) >= 0.1
    # half the gauges sit in the Kelani basin so that CSV is not empty
    kel = rng.random(n_gauges) < 0.5
    g_lat = np.round(np.where(kel, rng.uniform(6.65, 7.35, n_gauges),
                              rng.uniform(*D03_LAT, n_gauges)), 6)
    g_lon = np.round(np.where(kel, rng.uniform(79.65, 80.95, n_gauges),
                              rng.uniform(*D03_LON, n_gauges)), 6)
    obs_station = pd.DataFrame({
        "station_id": g_ids, "hash_id": [f"gauge{g:04d}" for g in g_ids],
        "latitude": g_lat, "longitude": g_lon,
        "last_active": np.where(active, "2024-06-01 00:00:00",
                                "2024-04-01 00:00:00"),
    })
    first = pd.Timestamp(min(times)) - pd.Timedelta(hours=2)
    n_obs_t = 8 + len(times)
    ot = (first + pd.to_timedelta(STEP_MIN * np.arange(n_obs_t), "m"))
    ot = ot.strftime("%Y-%m-%d %H:%M:00").to_numpy()
    obs_data = pd.DataFrame({
        "hash_id": np.repeat(obs_station["hash_id"].to_numpy(), n_obs_t),
        "time": np.tile(ot, n_gauges),
        "value": np.round(rng.gamma(0.5, 2.0, n_gauges * n_obs_t), 2),
    })
    obs_data = obs_data[rng.random(len(obs_data)) >= 0.03].reset_index(drop=True)

    lats, lons = _axes(sn, we)
    dist = ((g_lat[:, None, None] - lats[None, :, None]) ** 2
            + (g_lon[:, None, None] - lons[None, None, :]) ** 2).reshape(n_gauges, -1)
    n_map = rng.integers(1, 4, n_gauges)
    nearest = np.argsort(dist, axis=1, kind="stable")
    grid_map = pd.DataFrame({
        "obs_station_id": np.repeat(g_ids, n_map),
        "d03_station_id": np.concatenate(
            [100_000 + nearest[g, :k] for g, k in enumerate(n_map)]
        ),
        "rank": np.concatenate([np.arange(1, k + 1) for k in n_map]),
    })
    return {"obs_station": obs_station, "obs_data": obs_data,
            "grid_map": grid_map}


def hybrid_expectation(store: pd.DataFrame, world: dict, sources,
                       active_after: str, mean: bool,
                       obs_lead_minutes: int = 10) -> pd.DataFrame:
    """pandas restatement of the E3 product over the store's values
    (``store_values``): the wide (station_id, longitude, latitude,
    time, sources..., obs) frame."""
    gauges = world["obs_station"]
    gauges = gauges[gauges["last_active"] >= active_after]
    gmap = world["grid_map"] if mean else world["grid_map"].query("rank == 1")
    fc = (
        gauges.rename(columns={"station_id": "obs_station_id"})
        .merge(gmap, on="obs_station_id")
        .merge(store, on="d03_station_id")
        .rename(columns={"obs_station_id": "station_id"})
    )
    start = (pd.to_datetime(fc.groupby("station_id")["time"].min())
             - pd.Timedelta(minutes=obs_lead_minutes)).rename("obs_start")
    ob = gauges.merge(world["obs_data"], on="hash_id").join(start, on="station_id")
    ob = ob[pd.to_datetime(ob["time"]) >= ob["obs_start"]].assign(source="obs")
    keys = ["station_id", "longitude", "latitude", "time"]
    cols = [*keys, "source", "value"]
    long = pd.concat([fc[cols], ob[cols]], ignore_index=True)
    agg = "mean" if mean else "first"
    wide = long.pivot_table(index=keys, columns="source", values="value",
                            aggfunc=agg).reset_index()
    srcs = [*sources, "obs"]
    for s in srcs:
        if s not in wide:
            wide[s] = np.nan
    wide = wide[[*keys, *srcs]].dropna(subset=srcs)
    wide.columns.name = None
    return wide.sort_values(["time", "longitude", "latitude"]).reset_index(drop=True)


# ------------------------------------------------------------- corpus

BOILERPLATE = [
    "Copyright 2024 Example Weather Services. All rights reserved.",
    "Subscribe to our newsletter for daily rainfall outlooks.",
    "This page was generated automatically from station reports.",
    "Terms of use apply to all forecast products on this site.",
    "Follow us for updates on monsoon conditions and warnings.",
    "Click here to download the full bulletin in printable form.",
]


def _words(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    chars = rng.choice(letters, lens.sum())
    cuts = np.cumsum(lens)[:-1]
    return np.array(["".join(w) for w in np.split(chars, cuts)])


def corpus(seed: int, n_base: int, dup_share: float) -> dict:
    """Documents with planted exact copies, near-duplicate variants and
    shared boilerplate lines.

    ``dup_share`` of the base documents seed a planted cluster: half
    of those get 1-2 byte-identical copies, the other half 1-3
    variants (the body with its last word replaced, or a word put in
    front; 3-shingle Jaccard >= 0.96 with the base).  A third of all
    documents carry 1-2 boilerplate lines after the body.  Every
    cluster must curate down to one survivor, so the expected
    survivor count is ``n_base``."""
    rng = np.random.default_rng([seed, 11])
    vocab = _words(rng, 20_000)
    bodies = [
        " ".join(rng.choice(vocab, int(n))) for n in rng.integers(40, 120, n_base)
    ]
    texts, groups = [], []
    n_planted = int(round(dup_share * n_base))
    planted = rng.choice(n_base, n_planted, replace=False)
    kind = {int(b): ("exact" if j % 2 == 0 else "near")
            for j, b in enumerate(planted)}

    def with_boilerplate(body: str) -> str:
        if rng.random() < 1 / 3:
            lines = rng.choice(BOILERPLATE, int(rng.integers(1, 3)), replace=False)
            return "\n".join([body, *lines])
        return body

    for b, body in enumerate(bodies):
        members = [len(texts)]
        base_text = with_boilerplate(body)
        texts.append(base_text)
        if kind.get(b) == "exact":
            for _ in range(int(rng.integers(1, 3))):
                members.append(len(texts))
                texts.append(base_text)
        elif kind.get(b) == "near":
            for _ in range(int(rng.integers(1, 4))):
                toks = body.split(" ")
                if rng.random() < 0.5:
                    toks[-1] = str(rng.choice(vocab))
                else:
                    toks.insert(0, str(rng.choice(vocab)))
                members.append(len(texts))
                texts.append(with_boilerplate(" ".join(toks)))
        if len(members) > 1:
            groups.append(members)
    ids = rng.permutation(len(texts)) + 1
    docs = pd.DataFrame({
        "doc_id": ids.astype("int64"),
        "text": texts,
        "source": rng.choice(["web", "news", "forum"], len(texts)),
    })
    return {
        "docs": docs,
        "clusters": [[int(ids[m]) for m in g] for g in groups],
        "expected_survivors": n_base,
    }


def embeddings(seed: int, n: int, dim: int, dup_share: float,
               threshold: float) -> dict:
    """Gaussian vectors plus ``dup_share * n`` planted near copies
    (cosine ~0.99 with their source), and the exact pair set at
    ``threshold`` computed the way the engine scores it: cosine
    rounded to 9 dp."""
    rng = np.random.default_rng([seed, 13])
    n_dup = int(round(dup_share * n))
    base = rng.standard_normal((n - n_dup, dim))
    src = rng.choice(n - n_dup, n_dup, replace=False)
    noise = rng.standard_normal((n_dup, dim)) * 0.1
    vecs = np.vstack([base, base[src] + noise])
    ids = np.arange(1, n + 1, dtype="int64")
    planted = {(int(ids[s]), int(ids[n - n_dup + j])) for j, s in enumerate(src)}
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = np.round(unit @ unit.T, 9)
    ia, ib = np.nonzero(np.triu(cos >= threshold, k=1))
    pairs = {(int(ids[a]), int(ids[b])) for a, b in zip(ia, ib)}
    frame = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
    return {"frame": frame, "planted": planted, "pairs": pairs}


def components(pairs) -> int:
    """Connected-component count over the vertices that appear in
    ``pairs`` (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(x) for x in list(parent)})
