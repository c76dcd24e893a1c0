"""From-scratch ESRI shapefile writer + reader (pure bytes/numpy).

Closes the K4 vector-sink gap (r2 VERDICT "What's missing" #4): the
reference exports irm_Polygons.shp / irm_Lines.shp / irm_Points.shp
(src/irm_main.py:217-226 via geopandas ``to_file``). No GIS library
exists in this environment, so the format is written at byte level.

Scope: shape types Point (1), PolyLine (3), Polygon (5); dBASE III
attribute table with C (text) and N (numeric) fields; matching .shx
index. Single-file artifacts are driver-side by nature — these sinks
are for the FINAL small vector outputs (pools/centerlines per run);
the parquet vector tables remain the scale path.
"""

from __future__ import annotations

import struct

import numpy as np

POINT, POLYLINE, POLYGON = 1, 3, 5


def _ring_cw(x: np.ndarray, y: np.ndarray) -> bool:
    """Shoelace: True when the ring winds clockwise (shapefile outer)."""
    return float(np.sum((x[1:] - x[:-1]) * (y[1:] + y[:-1]))) > 0


def _shape_record(shape_type: int, shape) -> bytes:
    if shape_type == POINT:
        x, y = shape
        return struct.pack("<idd", POINT, float(x), float(y))
    # shape: list of (x_arr, y_arr) parts
    parts = []
    for px, py in shape:
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        if shape_type == POLYGON:
            if px[0] != px[-1] or py[0] != py[-1]:
                px = np.append(px, px[0])
                py = np.append(py, py[0])
        parts.append((px, py))
    if shape_type == POLYGON:
        # spec: outer rings clockwise (single-outer-ring shapes here;
        # holes would be counter-clockwise)
        parts = [(px[::-1], py[::-1]) if not _ring_cw(px, py) else (px, py)
                 for px, py in parts]
    all_x = np.concatenate([p[0] for p in parts])
    all_y = np.concatenate([p[1] for p in parts])
    offsets, cursor = [], 0
    for px, _ in parts:
        offsets.append(cursor)
        cursor += px.shape[0]
    out = struct.pack("<i4d", shape_type, all_x.min(), all_y.min(), all_x.max(), all_y.max())
    out += struct.pack("<ii", len(parts), all_x.shape[0])
    out += struct.pack(f"<{len(parts)}i", *offsets)
    xy = np.empty((all_x.shape[0], 2))
    xy[:, 0], xy[:, 1] = all_x, all_y
    return out + xy.astype("<f8").tobytes()


def _main_header(shape_type: int, total_words: int, bbox) -> bytes:
    return (struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0))


def write_shapefile(shape_type: int, shapes: list, fields: list[tuple[str, str, int, int]],
                    records: list[tuple]) -> dict[str, bytes]:
    """-> {"shp": bytes, "shx": bytes, "dbf": bytes}.

    shapes: Point -> (x, y); PolyLine/Polygon -> list of (x_arr, y_arr)
    parts. fields: (name<=10, type 'C'|'N', length, decimals).
    records: one attribute tuple per shape.
    """
    if len(shapes) != len(records):
        raise ValueError("shapes and records must align")
    recs, index = [], []
    cursor_words = 50  # 100-byte header
    for i, shape in enumerate(shapes):
        content = _shape_record(shape_type, shape)
        words = len(content) // 2
        recs.append(struct.pack(">ii", i + 1, words) + content)
        index.append(struct.pack(">ii", cursor_words, words))
        cursor_words += 4 + words
    if not shapes:
        xs = ys = np.zeros(1)  # an empty layer keeps a zero bbox
    elif shape_type == POINT:
        xs = np.asarray([s[0] for s in shapes], dtype=np.float64)
        ys = np.asarray([s[1] for s in shapes], dtype=np.float64)
    else:
        xs = np.concatenate([np.concatenate([np.asarray(p[0], dtype=np.float64) for p in s])
                             for s in shapes])
        ys = np.concatenate([np.concatenate([np.asarray(p[1], dtype=np.float64) for p in s])
                             for s in shapes])
    bbox = (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
    shp = _main_header(shape_type, cursor_words, bbox) + b"".join(recs)
    shx = _main_header(shape_type, 50 + 4 * len(shapes), bbox) + b"".join(index)
    return {"shp": shp, "shx": shx, "dbf": _write_dbf(fields, records)}


def _write_dbf(fields, records) -> bytes:
    rec_len = 1 + sum(f[2] for f in fields)
    header_len = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack("<B3BI2H20x", 3, 95, 7, 26, len(records), header_len, rec_len)
    for name, typ, length, dec in fields:
        if typ not in ("C", "N", "F"):
            raise ValueError(f"unsupported dbf field type {typ!r}")
        out += struct.pack("<11sc4xBB14x", name.encode()[:10].ljust(11, b"\x00"),
                           typ.encode(), length, dec)
    out += b"\x0d"
    for rec in records:
        out += b" "
        for (name, typ, length, dec), v in zip(fields, rec):
            if typ == "C":
                out += str(v)[:length].encode("ascii", "replace").ljust(length, b" ")
            else:
                s = f"{float(v):.{dec}f}" if dec else str(int(v))
                out += s[:length].rjust(length).encode()
    out += b"\x1a"
    return bytes(out)


def dbf_field_names(dbf: bytes) -> list[str]:
    """Field names of a dBASE III header, in record order."""
    names = []
    p = 32
    while dbf[p] != 0x0D:
        names.append(dbf[p:p + 11].rstrip(b"\x00").decode())
        p += 32
    return names


def read_shapefile(shp: bytes, dbf: bytes | None = None):
    """-> (shape_type, shapes, records) — round-trip verification."""
    (code,) = struct.unpack(">i", shp[:4])
    if code != 9994:
        raise ValueError("not a shapefile")
    (shape_type,) = struct.unpack("<i", shp[32:36])
    shapes = []
    pos = 100
    while pos < len(shp):
        _, words = struct.unpack(">ii", shp[pos:pos + 8])
        content = shp[pos + 8:pos + 8 + words * 2]
        (st,) = struct.unpack("<i", content[:4])
        if st == POINT:
            shapes.append(struct.unpack("<dd", content[4:20]))
        elif st in (POLYLINE, POLYGON):
            nparts, npts = struct.unpack("<ii", content[36:44])
            parts = list(struct.unpack(f"<{nparts}i", content[44:44 + 4 * nparts]))
            xy = np.frombuffer(content, dtype="<f8", count=npts * 2,
                               offset=44 + 4 * nparts).reshape(npts, 2)
            bounds = parts + [npts]
            shapes.append([(xy[a:b, 0].copy(), xy[a:b, 1].copy())
                           for a, b in zip(bounds[:-1], bounds[1:])])
        else:
            raise ValueError(f"unsupported shape type {st}")
        pos += 8 + words * 2
    records = None
    if dbf is not None:
        nrec, header_len, rec_len = struct.unpack("<IHH", dbf[4:12])
        fields = []
        p = 32
        while dbf[p] != 0x0D:
            name = dbf[p:p + 11].rstrip(b"\x00").decode()
            typ = chr(dbf[p + 11])
            length = dbf[p + 16]
            fields.append((name, typ, length))
            p += 32
        records = []
        p = header_len
        for _ in range(nrec):
            row, q = [], p + 1
            for name, typ, length in fields:
                raw = dbf[q:q + length].decode("ascii", "replace").strip()
                row.append(raw)
                q += length
            records.append(tuple(row))
            p += rec_len
    return shape_type, shapes, records
