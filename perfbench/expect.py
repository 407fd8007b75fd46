"""Independent expected outputs for every benchmark op.

Nothing here runs Spark or the library's operators. The sources are:

- DuckDB SQL written here, over the same parquet files the op reads;
- the ``__spark_entry__.oracle_sql()`` twins, run in DuckDB against the
  seeded tables (the ops plant rows exactly as the twin queries expect);
- NumPy references: a float64 PSNR over an image decoder written here from
  the format specs, brute-force SimHash pairs, and cosine-LSH pairs rebuilt from
  their documented definition.

Expectations are computed once per seed and cached next to the inputs. Every
expected output is a list of normalised row tuples; :func:`mismatches`
compares an op's rows to it as a multiset, after the timed interval.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import struct
import zlib
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import numpy as np

from perfbench import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
_SOURCES = (os.path.join(HERE, "expect.py"),
            os.path.join(inputs.REPO, "__spark_entry__.py"))

FLOAT_DIGITS = 6


# -- normalisation and comparison --------------------------------------------

def norm_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        return round(f, FLOAT_DIGITS)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    return repr(v)


def norm_rows(rows) -> list[list]:
    return [[norm_value(v) for v in r] for r in rows]


def mismatches(actual: list[list], expected: list[list]) -> int:
    """Rows of ``expected`` missing from ``actual`` plus rows of ``actual``
    not in ``expected``, as multisets; 0 means the outputs agree."""
    a = Counter(json.dumps(r) for r in actual)
    e = Counter(json.dumps(r) for r in expected)
    return sum((e - a).values()) + sum((a - e).values())


# -- cache ------------------------------------------------------------------

def _cached(name: str, tables: inputs.TableSet, build) -> dict:
    key = inputs.files_hash(_SOURCES, salt=tables.root)
    path = os.path.join(tables.root, f"expect-{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = build(tables)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


# -- an image decoder written from the format specs --------------------------

def ref_decode(data: bytes | None, fmt: str | None, w, h):
    """(h, w, 3) uint8 RGB, or None when the payload does not decode.
    raw: declared w*h*3 bytes; bmp: 24-bit BI_RGB, rows padded to 4 bytes,
    bottom-up when the height is positive; png: 8-bit RGB with any of the
    five scanline filters."""
    if data is None:
        return None
    try:
        if fmt == "raw":
            if w is None or h is None or w <= 0 or h <= 0:
                return None
            if len(data) < w * h * 3:
                return None
            return np.frombuffer(data, np.uint8, w * h * 3).reshape(h, w, 3)
        if fmt == "bmp":
            return _ref_bmp(data)
        if fmt == "png":
            return _ref_png(data)
    except (ValueError, struct.error, zlib.error):
        return None
    return None


def _ref_bmp(data: bytes):
    if data[:2] != b"BM":
        return None
    offset, = struct.unpack_from("<I", data, 10)
    bw, bh = struct.unpack_from("<ii", data, 18)
    bpp, = struct.unpack_from("<H", data, 28)
    if bpp != 24 or bw <= 0 or bh == 0:
        return None
    stride = (bw * 3 + 3) // 4 * 4
    rows = abs(bh)
    if len(data) < offset + stride * rows:
        return None
    px = np.empty((rows, bw, 3), np.uint8)
    for y in range(rows):
        line = np.frombuffer(data, np.uint8, bw * 3, offset + y * stride)
        px[rows - 1 - y if bh > 0 else y] = line.reshape(bw, 3)[:, ::-1]
    return px


def _ref_png(data: bytes):
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        ln, = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if len(body) < ln:
            return None
        if tag == b"IHDR":
            ihdr = struct.unpack_from(">IIBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or ihdr[2:] != (8, 2):
        return None
    pw, ph = ihdr[0], ihdr[1]
    raw = zlib.decompress(b"".join(idat))
    stride = pw * 3 + 1
    if len(raw) != stride * ph:
        return None
    out = np.zeros((ph, pw * 3), np.int64)
    prev = np.zeros(pw * 3, np.int64)
    for y in range(ph):
        ft = raw[y * stride]
        cur = np.frombuffer(raw, np.uint8, pw * 3, y * stride + 1).astype(np.int64)
        if ft == 1 or ft == 3 or ft == 4:
            line = np.zeros(pw * 3, np.int64)
            for i in range(pw * 3):
                left = line[i - 3] if i >= 3 else 0
                up, ul = prev[i], (prev[i - 3] if i >= 3 else 0)
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (
                        up if pb <= pc else ul)
                line[i] = (cur[i] + pred) & 0xFF
            cur = line
        elif ft == 2:
            cur = (cur + prev) & 0xFF
        elif ft != 0:
            return None
        out[y] = cur
        prev = cur
    return out.astype(np.uint8).reshape(ph, pw, 3)


def ref_psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR in float64 throughout; the library reports inf as 1e9."""
    if a.shape != b.shape:
        return 0.0
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return 1e9 if mse == 0 else 10.0 * math.log10(255.0 ** 2 / mse)


DECODE_COLS = ["image_id", "part", "decode_ok", "dec_w", "dec_h", "psnr_db",
               "pixels_ok", "size_ok"]


def decode_expect_rows(path: str) -> list[list]:
    """Expected ``decode_validate`` columns (DECODE_COLS) for every row of
    an image parquet: PSNR >= 40 dB passes a lossy (png) image, lossless
    formats must match exactly, and the reference pixels are
    ``gen_pixels(image_id, decoded w, decoded h)``."""
    import pyarrow.parquet as pq

    from schisma_spark.image.synth import gen_pixels

    t = pq.read_table(path, columns=["image_id", "bytes", "w", "h", "fmt",
                                     "part"]).to_pylist()
    rows = []
    for r in t:
        px = ref_decode(r["bytes"], r["fmt"], r["w"], r["h"])
        if px is None:
            rows.append([r["image_id"], r["part"], False, None, None, None,
                         False, False])
            continue
        dh, dw = px.shape[0], px.shape[1]
        size_ok = r["w"] == dw and r["h"] == dh
        if r["image_id"] is None:
            rows.append([None, r["part"], True, dw, dh, None, False, size_ok])
            continue
        p = ref_psnr(px, gen_pixels(r["image_id"], dw, dh))
        ok = p >= 40.0 if r["fmt"] == "png" else p == 1e9
        rows.append([r["image_id"], r["part"], True, dw, dh, p, ok, size_ok])
    return norm_rows(rows)


# -- image tables --------------------------------------------------------------

VALIDATE_FIELDS = (
    ("image_id", "NOT regexp_matches(image_id, '^img-')"),
    ("w", "NOT (w > 0 AND w <= 4096)"),
    ("h", "NOT (h > 0 AND h <= 4096)"),
    ("fmt", "fmt NOT IN ('raw', 'bmp', 'png')"),
    ("caption", None),
    ("phash", None),
    ("part", None),
)
HIST = {"lo": 0.0, "hi": 64.0, "nbins": 8}
STATS_COLS = ("image_id", "w", "h", "fmt", "caption", "phash")


def _row_violations_sql(src: str) -> str:
    parts = []
    for col, bad in VALIDATE_FIELDS:
        parts.append(f"SELECT rid, image_id, part, 'missing key' AS code, "
                     f"'{col}' AS loc FROM {src} WHERE {col} IS NULL")
        if bad:
            parts.append(f"SELECT rid, image_id, part, 'invalid', '{col}' "
                         f"FROM {src} WHERE {col} IS NOT NULL AND {bad}")
    return " UNION ALL ".join(parts)


def _image_validate(ts: inputs.TableSet) -> dict:
    con = _duck()
    img = os.path.join(ts.paths["images"], "*.parquet")
    con.execute(f"CREATE TABLE t AS SELECT row_number() OVER () AS rid, "
                f"image_id, w, h, fmt, caption, phash, part "
                f"FROM read_parquet('{img}')")
    con.execute(f"CREATE TABLE ref AS SELECT * FROM "
                f"read_parquet('{ts.paths['images_ref']}')")
    con.execute(f"CREATE TABLE dim AS SELECT * FROM "
                f"read_parquet('{ts.paths['dim_fmt']}')")
    con.execute(f"CREATE TABLE rowv AS {_row_violations_sql('t')}")
    verdicts = con.sql("""
        SELECT t.part, count(*) AS n_rows,
               coalesce(sum(v.n), 0) AS n_violations,
               count(v.n) AS n_bad_rows,
               CASE WHEN coalesce(sum(v.n), 0) = 0 THEN 'pass' ELSE 'fail' END
        FROM t LEFT JOIN (SELECT rid, count(*) AS n FROM rowv GROUP BY rid) v
          USING (rid)
        GROUP BY t.part""").fetchall()
    uniq = " UNION ALL ".join(
        f"SELECT image_id, part, 'invalid', '{c}' FROM t WHERE {c} IN "
        f"(SELECT {c} FROM t WHERE {c} IS NOT NULL GROUP BY {c} "
        f"HAVING count(*) > 1)" for c in ("image_id", "phash"))
    violations = con.sql(f"""
        SELECT image_id, part, code, loc FROM rowv
        UNION ALL {uniq}
        UNION ALL SELECT image_id, part, 'no match', 'fmt' FROM t
          WHERE fmt IS NOT NULL AND fmt NOT IN (SELECT fmt FROM dim)
    """).fetchall()
    stats = con.sql(" UNION ALL ".join(
        f"SELECT '{c}', count(*), count(*) - count({c}), "
        f"(count(*) - count({c}))::DOUBLE / count(*), "
        f"min({c})::VARCHAR, max({c})::VARCHAR FROM t" for c in STATS_COLS
    )).fetchall()
    hll = con.sql("SELECT count(DISTINCT phash), true FROM t").fetchall()

    def hist(table: str) -> dict[int, int]:
        lo, hi, nb = HIST["lo"], HIST["hi"], HIST["nbins"]
        return dict(con.sql(
            f"SELECT least(greatest(floor((w - {lo}) / {hi - lo} * {nb}), 0),"
            f" {nb - 1})::INT AS b, count(*) FROM {table} WHERE w IS NOT NULL"
            f" GROUP BY b").fetchall())

    cur, base = hist("t"), hist("ref")
    bins = sorted(set(cur) | set(base))
    ca = np.cumsum([cur.get(b, 0) for b in bins]) / sum(cur.values())
    cb = np.cumsum([base.get(b, 0) for b in bins]) / sum(base.values())
    ks = float(np.max(np.abs(ca - cb)))
    conformed = con.sql("""
        SELECT coalesce(image_id, ''), coalesce(w, 0), coalesce(h, 0),
               coalesce(fmt, ''), coalesce(caption, ''), coalesce(phash, 0),
               coalesce(part, 0) FROM t""").fetchall()
    con.close()
    return {
        "verdicts": norm_rows(verdicts),
        "violations": norm_rows(violations),
        "column_stats": norm_rows(stats),
        "hll_distinct": norm_rows(hll),
        "ks": norm_rows([[ks]]),
        "conform": norm_rows(conformed),
    }


def image_validate(ts: inputs.TableSet) -> dict:
    return _cached("image_validate", ts, _image_validate)


def _image_decode(ts: inputs.TableSet) -> dict:
    con = _duck()
    img = os.path.join(ts.paths["images"], "*.parquet")
    captions = con.sql(f"""
        SELECT f.image_id, f.part, 'invalid', 'caption', r.caption, f.caption
        FROM read_parquet('{img}') f
        LEFT JOIN read_parquet('{ts.paths['images_ref']}') r USING (image_id)
        WHERE f.caption IS DISTINCT FROM r.caption""").fetchall()
    con.close()
    small = []
    for name in sorted(os.listdir(ts.paths["images"])):
        small += decode_expect_rows(os.path.join(ts.paths["images"], name))
    return {
        "decode_small": small,
        "decode_large": decode_expect_rows(ts.paths["images_large"]),
        "decode_defect": decode_expect_rows(ts.paths["images_defect"]),
        "caption": norm_rows(captions),
    }


# -- payload: text, vectors and events -----------------------------------------

def _oracle(con, name: str) -> list[list]:
    import __spark_entry__

    return norm_rows(con.sql(__spark_entry__.oracle_sql()[name]).fetchall())


def _md5_int(s: str, hex_chars: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


def simhash60(text: str | None) -> int:
    """Bit b of the 60-bit SimHash is set iff more than half of the
    whitespace tokens' 15-hex-digit md5 prefixes have bit b set; NULL or
    blank text hashes to 0."""
    toks = (text or "").strip().lower().split()
    if not toks:
        return 0
    hs = np.array([_md5_int(t, 15) for t in toks], np.int64)
    ones = ((hs[:, None] >> np.arange(60)) & 1).sum(axis=0)
    return int(np.sum(np.where(2 * ones > len(toks), 1 << np.arange(60), 0)))


_POP8 = np.array([bin(i).count("1") for i in range(256)], np.uint8)


def hamming_pairs(ids: np.ndarray, sigs: np.ndarray, max_d: int) -> list:
    """Every pair ``id_a < id_b`` within ``max_d`` bits, by brute force."""
    order = np.argsort(ids)
    ids, sigs = ids[order], sigs[order].astype(np.uint64)
    out = []
    for i in range(len(ids) - 1):
        x = np.bitwise_xor(sigs[i + 1:], sigs[i])
        d = _POP8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        for j in np.nonzero(d <= max_d)[0]:
            out.append([int(ids[i]), int(ids[i + 1 + j]), int(d[j])])
    return out


def _plane_coefs(dim: int, n_planes: int, seed: str) -> np.ndarray:
    return np.array([[(_md5_int(f"{seed}:{pl}:{i}", 8) % 2000 - 1000) / 1000.0
                      for i in range(dim)] for pl in range(n_planes)])


def _fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed left to right, the order the engine's
    array fold uses, so signs near zero and rounded cosines agree bit for
    bit. ``y`` is one vector or one per row of ``x``."""
    acc = np.zeros(x.shape[0])
    for i in range(x.shape[1]):
        acc = acc + x[:, i] * (y[..., i])
    return acc


def cosine_pairs(ids: np.ndarray, vecs: list, dim: int, threshold: float,
                 n_tables: int, n_planes: int) -> list:
    """``[id_a, id_b, cos]`` for every pair of valid vectors (no NULL
    element, finite positive norm) that shares a hyperplane bucket in any
    table and whose exact cosine, rounded to 6 digits, is >= threshold."""
    present = np.array([v is not None and all(e is not None for e in v)
                        for v in vecs])
    x = np.zeros((len(ids), dim))
    for i in np.nonzero(present)[0]:
        x[i] = np.asarray(vecs[i], np.float32)
    with np.errstate(invalid="ignore"):
        sq = _fold_dot(x, x)
    vi = np.nonzero(present & (sq > 0) & np.isfinite(sq))[0]
    xv, norms, vid = x[vi], np.sqrt(sq[vi]), ids[vi]
    cands = set()
    for t in range(n_tables):
        planes = _plane_coefs(dim, n_planes, f"t{t}")
        sig = np.zeros(len(vi), np.int64)
        for pl in range(n_planes):
            sig += np.where(_fold_dot(xv, planes[pl]) > 0, 1 << pl, 0)
        order = np.argsort(sig, kind="stable")
        for grp in np.split(order, np.nonzero(np.diff(sig[order]))[0] + 1):
            for a in range(len(grp) - 1):
                cands.update((int(grp[a]), int(b)) for b in grp[a + 1:])
    pairs = np.array(sorted(cands), np.int64).reshape(-1, 2)
    ia, ib = pairs[:, 0], pairs[:, 1]
    cos = _fold_dot(xv[ia], xv[ib]) / (norms[ia] * norms[ib])
    return [[int(min(vid[a], vid[b])), int(max(vid[a], vid[b])), float(c)]
            for a, b, c in zip(ia, ib, cos) if round(float(c), 6) >= threshold]


def planted_embeddings(emb_rows: list[dict]) -> tuple[np.ndarray, list]:
    """The embedding op's input: every row, exact copies of ids divisible by
    25 at +100000, then NULL vectors (id % 97), all-NaN vectors (id % 89)
    and a NULL first element (id % 83)."""
    rows = [(r["vec_id"], r["embedding"]) for r in emb_rows]
    rows += [(i + 100000, v) for i, v in rows if i % 25 == 0]
    ids, vecs = [], []
    for i, v in rows:
        if i % 97 == 0:
            v = None
        elif i % 89 == 0:
            v = [float("nan")] * len(v)
        elif i % 83 == 0:
            v = [None] + list(v[1:])
        ids.append(i)
        vecs.append(v)
    return np.array(ids, np.int64), vecs


def _payload(ts: inputs.TableSet) -> dict:
    import pyarrow.parquet as pq

    out = _image_decode(ts)
    con = _duck()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{ts.paths['events']}')")
    out |= {name: _oracle(con, twin) for name, twin in (
        ("validate_variant", "validate_variant_events"),
        ("conform_json", "conform_json_events"),
        ("validate_json_recursive", "recursive_validate"),
    )}
    con.close()
    docs = pq.read_table(ts.paths["documents"],
                         columns=["doc_id", "text"]).to_pylist()
    rows = [(d["doc_id"], d["text"]) for d in docs]
    rows += [(i + 1000000, t) for i, t in rows if i % 25 == 0]
    ids = np.array([r[0] for r in rows], np.int64)
    sigs = np.array([simhash60(r[1]) for r in rows], np.int64)
    emb = pq.read_table(ts.paths["embeddings"]).to_pylist()
    eids, vecs = planted_embeddings(emb)
    out["simhash64_near_dups"] = hamming_pairs(ids, sigs, 3)
    out["cosine_near_dups"] = norm_rows(cosine_pairs(
        eids, vecs, inputs.DIM, 0.99, 8, 6))
    return out


def payload(ts: inputs.TableSet) -> dict:
    return _cached("payload", ts, _payload)
