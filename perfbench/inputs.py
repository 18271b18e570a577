"""Seeded input generation for the benchmark workloads.

Everything is built with NumPy and written as parquet with PyArrow, so the
engine receives only finished inputs and none of its code runs while they
are made. The same seed always gives the same files.

- ``conflation_inputs``: images (image_id, caption, lon, lat) and a mixed
  layer (points, LineStrings, two-part MultiLineStrings whose second part is
  a far decoy, and ~10% decoy points). Match classes follow
  ``osm_merge_spark/data/synth.py``: class = i % 10, classes 0-5 have a
  feature within the threshold, 6 has one 0.08 deg away, 7-9 have none. One
  image in five sits in a hot cluster whose side grows with sqrt(n), as in
  synth.py, so the hot cells stay far denser than the rest while the number
  of candidates per image stays bounded.
- ``pipeline_inputs``: images in the BASELINE ``input_hint`` shape (image_id,
  bytes, w, h, fmt, caption, phash, lon, lat) and a point layer of about one
  feature per 20 images.
- ``write_tables``: the TPC-H-like tables the registered queries read
  (region ... embeddings), with the shapes and value ranges of the repo's
  fixture tables. Content comes from a fixed seed; ``order_seed`` permutes
  the row order of every table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LON_MIN, LON_MAX = -109.2, -108.2
LAT_MIN, LAT_MAX = 43.4, 44.0
HOT_LON, HOT_LAT = -108.70003, 43.70007
THRESHOLD_M = 7.0
DEG_PER_M_LAT = 1.0 / 110_574.0
MATCH_CLASSES = (0, 1, 2, 3, 4, 5)

_W1 = ["Cedar", "Pine", "Bear", "Elk", "Aspen", "Juniper", "Willow", "Eagle",
       "Stone", "Birch", "Maple", "Otter", "Falcon", "Granite", "Shadow", "Silver"]
_W2 = ["Lake", "Ridge", "Creek", "Canyon", "Mesa", "Spring", "Hollow", "Valley"]
_SUF = ["Road", "Trail", "Lane", "Loop", "Drive", "Pass"]

_STR_MAP = pa.map_(pa.string(), pa.string())
_F64_LIST = pa.list_(pa.float64())


@dataclass(frozen=True)
class ConflationInputs:
    images: str          # parquet path
    layer: str           # parquet path
    n_images: int
    must_match: frozenset  # image_ids whose planted feature is within threshold
    input_bytes: int     # on-disk size of both files


def _captions(rng: np.random.Generator, n: int) -> np.ndarray:
    w1 = np.array(_W1)[rng.integers(0, len(_W1), n)]
    w2 = np.array(_W2)[rng.integers(0, len(_W2), n)]
    suf = np.array(_SUF)[rng.integers(0, len(_SUF), n)]
    return np.char.add(np.char.add(np.char.add(np.char.add(w1, " "), w2), " "), suf)


def _positions(rng: np.random.Generator, n: int, n_total: int, hot: np.ndarray):
    spread = 0.0009 * np.sqrt(max(n_total, 2000) / 2000.0)
    u1, u2 = rng.random(n), rng.random(n)
    lon = np.where(hot, HOT_LON + (u1 - 0.5) * spread, LON_MIN + u1 * (LON_MAX - LON_MIN))
    lat = np.where(hot, HOT_LAT + (u2 - 0.5) * spread, LAT_MIN + u2 * (LAT_MAX - LAT_MIN))
    return lon, lat


def _typo(caps: np.ndarray) -> np.ndarray:
    return np.array([c[:2] + "x" + c[3:] for c in caps], dtype=object)


def _write(table: pa.Table, path: str, order: np.ndarray) -> int:
    pq.write_table(table.take(pa.array(order)), path)
    return os.path.getsize(path)


def _planted(rng, i, lon, lat, caps):
    """Feature offsets and captions for images i per their match class."""
    cls = i % 10
    jit = THRESHOLD_M * 0.45 * DEG_PER_M_LAT
    dlon = rng.uniform(-1.0, 1.0, len(i)) * jit
    dlat = rng.uniform(-1.0, 1.0, len(i)) * jit
    dlon = np.where(cls == 4, 0.0, np.where(cls == 6, 0.08, dlon))
    dlat = np.where(cls == 4, 0.0, np.where(cls == 6, 0.08, dlat))
    fcap = np.where(np.isin(cls, (2, 3)), _typo(caps),
                    np.where(cls == 5, "Unrelated Gravel Pit", caps))
    return lon + dlon, lat + dlat, fcap


def _tags(names, kinds) -> pa.Array:
    return pa.array(
        [[("name", nm), ("highway", k), ("surface", "dirt")]
         for nm, k in zip(names, kinds)],
        type=_STR_MAP,
    )


def conflation_inputs(out_dir: str, n: int, seed: int) -> ConflationInputs:
    """Images plus a mixed point/line/multiline layer with planted matches."""
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n)
    hot = i % 5 == 0
    lon, lat = _positions(rng, n, n, hot)
    caps = _captions(rng, n)
    ids = np.char.add("img-", i.astype(str))

    has = i % 10 <= 6
    fi = i[has]
    flon, flat, fcap = _planted(rng, fi, lon[has], lat[has], caps[has])
    # geometry kind per planted feature: 70% point, 20% line, 10% multiline
    kind = rng.choice(3, size=len(fi), p=[0.7, 0.2, 0.1])
    seg = 30.0 * DEG_PER_M_LAT
    xs, ys, gtype = [], [], []
    for x, y, k in zip(flon, flat, kind):
        if k == 0:
            xs.append([x]), ys.append([y]), gtype.append("Point")
            continue
        lx, ly = [x - seg, x, x + seg], [y - seg * 0.3, y, y + seg * 0.3]
        if k == 1:
            xs.append(lx), ys.append(ly), gtype.append("LineString")
        else:  # near part through the feature + NaN + a decoy part ~4 km east
            xs.append(lx + [np.nan, x + 0.05, x + 0.051])
            ys.append(ly + [np.nan, y, y])
            gtype.append("MultiLineString")

    n_dec = n // 10
    dlon, dlat = _positions(rng, n_dec, n, np.arange(n_dec) % 5 == 0)
    dcap = _captions(rng, n_dec)
    layer = pa.table({
        "feature_id": pa.array(np.concatenate([fi + 1, n + 1 + np.arange(n_dec)]), pa.int64()),
        "version": pa.array(np.concatenate([rng.integers(1, 4, len(fi)), np.ones(n_dec, int)]),
                            pa.int32()),
        "geom_type": pa.array(gtype + ["Point"] * n_dec, pa.string()),
        "xs": pa.array(xs + [[v] for v in dlon], _F64_LIST),
        "ys": pa.array(ys + [[v] for v in dlat], _F64_LIST),
        "tags": pa.concat_arrays([
            _tags(fcap, np.where(kind == 0, "path", "track")),
            _tags(dcap, ["path"] * n_dec),
        ]),
        "caption": pa.array(np.concatenate([fcap, dcap]).astype(str), pa.string()),
    })
    images = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "caption": pa.array(caps, pa.string()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
    })
    img_path, lyr_path = os.path.join(out_dir, "images.parquet"), os.path.join(out_dir, "layer.parquet")
    nbytes = _write(images, img_path, rng.permutation(n))
    nbytes += _write(layer, lyr_path, rng.permutation(layer.num_rows))
    must = frozenset(ids[np.isin(i % 10, MATCH_CLASSES)].tolist())
    return ConflationInputs(img_path, lyr_path, n, must, nbytes)


def pipeline_inputs(out_dir: str, n: int, seed: int) -> ConflationInputs:
    """Payload-carrying images and a point layer of about n/20 features."""
    rng = np.random.default_rng([seed, 2])
    i = np.arange(n)
    lon, lat = _positions(rng, n, n, i % 5 == 0)
    caps = _captions(rng, n)
    ids = np.char.add("img-", i.astype(str))
    w = h = 16
    payload = rng.integers(0, 256, size=(n, w * h * 3), dtype=np.uint8)
    images = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array([row.tobytes() for row in payload], pa.binary()),
        "w": pa.array(np.full(n, w), pa.int32()),
        "h": pa.array(np.full(n, h), pa.int32()),
        "fmt": pa.array(np.where(i % 3 == 0, "qnt", "png"), pa.string()),
        "caption": pa.array(caps, pa.string()),
        "phash": pa.array(rng.integers(0, 2**60, n), pa.int64()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
    })
    has = (i % 200 < 10) & (i % 10 <= 6)
    fi = i[has]
    flon, flat, fcap = _planted(rng, fi, lon[has], lat[has], caps[has])
    n_dec = n // 70
    dlon, dlat = _positions(rng, n_dec, n, np.arange(n_dec) % 5 == 0)
    dcap = _captions(rng, n_dec)
    all_lon, all_lat = np.concatenate([flon, dlon]), np.concatenate([flat, dlat])
    all_cap = np.concatenate([fcap, dcap]).astype(str)
    m = len(all_lon)
    layer = pa.table({
        "feature_id": pa.array(np.concatenate([fi + 1, n + 1 + np.arange(n_dec)]), pa.int64()),
        "version": pa.array(rng.integers(1, 4, m), pa.int32()),
        "geom_type": pa.array(["Point"] * m, pa.string()),
        "xs": pa.array([[v] for v in all_lon], _F64_LIST),
        "ys": pa.array([[v] for v in all_lat], _F64_LIST),
        "tags": _tags(all_cap, ["path"] * m),
        "caption": pa.array(all_cap, pa.string()),
    })
    img_path, lyr_path = os.path.join(out_dir, "images.parquet"), os.path.join(out_dir, "layer.parquet")
    nbytes = _write(images, img_path, rng.permutation(n))
    nbytes += _write(layer, lyr_path, rng.permutation(m))
    must = frozenset(ids[has & np.isin(i % 10, MATCH_CLASSES)].tolist())
    return ConflationInputs(img_path, lyr_path, n, must, nbytes)


# --- TPC-H-like tables ------------------------------------------------------
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CONTENT_SEED = 42
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
              "line merge order part query row scan slow small sort spark stream "
              "table the value vector window").split()
_EPOCH_US = {"1995-01-01": 788_918_400_000_000, "2024-01-01": 1_704_067_200_000_000}
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, words, n) -> np.ndarray:
    return np.array(words, dtype=object)[rng.integers(0, len(words), n)]


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(_pick(rng, adj, n_part).astype(str), " "),
                              _pick(rng, noun, n_part).astype(str)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_US["1995-01-01"] + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_US["1995-01-01"] + rng.integers(1, 2500, n_li) * _DAY_US)})
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_US["2024-01-01"] + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_pick(rng, _DOC_WORDS, int(k))) for k in rng.integers(10, 100, n_doc)]
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):  # planted near-duplicates
        if d:
            texts[d] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, sf: float, order_seed: int) -> int:
    """Write every table as <out_dir>/<name>.parquet; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(sf, np.random.default_rng(CONTENT_SEED))
    order_rng = np.random.default_rng([order_seed, 3])
    return sum(
        _write(tab, os.path.join(out_dir, f"{name}.parquet"),
               order_rng.permutation(tab.num_rows))
        for name, tab in tables.items()
    )
