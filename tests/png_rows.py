"""Reference forward PNG row filterer (spec direction, the inverse of
``filters.png_unfilter``), shared by the PNG image and PDF predictor
tests: it writes any per-row mix of filter tags, which the render-side
``encode_predictor`` (one tag per stream) never does."""

from __future__ import annotations


def png_filter_rows(rows, filters, bpp):
    """``rows``: a sequence of equal-length byte rows (any int
    sequences); ``filters``: one tag 0–4 per row; ``bpp``: bytes per
    pixel. Returns the tagged, filtered scanline stream."""
    out = bytearray()
    prev = [0] * (len(rows[0]) if len(rows) else 0)
    for row, ft in zip(rows, filters):
        row = [int(v) for v in row]
        out.append(ft)
        for x in range(len(row)):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] - a
            elif ft == 2:
                v = row[x] - b
            elif ft == 3:
                v = row[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                v = row[x] - pred
            out.append(v & 0xFF)
        prev = row
    return bytes(out)
