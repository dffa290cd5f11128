"""Seeded input generators.

Every table the benchmark feeds the program is made here from the workload
seed with numpy/pyarrow, so the program receives only generated parquet and
the same seed always gives identical inputs.  Inputs are regenerated by
every set-up and never cached between runs, so a changed generator can not
be shadowed by stale files.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_HOT = 24  # hot centres: 80% of points cluster (city skew), 20% uniform
HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def lonlat(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Skewed points: 80% within ±1° of one of ``N_HOT`` seeded centres,
    20% uniform; latitude kept off the exact poles."""
    clon = rng.uniform(-179.0, 179.0, N_HOT)
    clat = rng.uniform(-70.0, 70.0, N_HOT)
    hot = rng.random(n) < 0.8
    c = rng.integers(0, N_HOT, n)
    lon = np.where(hot, clon[c] + rng.uniform(-1.0, 1.0, n), rng.uniform(-180.0, 180.0, n))
    lat = np.where(hot, clat[c] + rng.uniform(-1.0, 1.0, n), rng.uniform(-89.9, 89.9, n))
    return lon, lat


def _fixed_width_strings(buf: np.ndarray) -> pa.Array:
    """(n, w) uint8 matrix -> utf8 array of n strings of width w."""
    n, w = buf.shape
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    return pa.StringArray.from_buffers(n, offsets.buffers()[1],
                                       pa.py_buffer(np.ascontiguousarray(buf)))


def docs_table(seed: int, n_docs: int) -> pa.Table:
    """The interleaved text+media doc table (BASELINE input_hint schema):
    doc_id string, spans array<struct<kind,text,media_ref,offset>>, lon, lat.
    1-8 spans per doc; text spans carry a short phrase, media spans a
    ``blob://`` ref of 16 hex digits; offsets strictly increase."""
    rng = np.random.default_rng([seed, 1])
    lon, lat = lonlat(rng, n_docs)
    n_spans = rng.integers(1, 9, n_docs).astype(np.int32)
    total = int(n_spans.sum())
    kind_idx = rng.integers(0, 3, total)
    is_text = kind_idx == 0
    kind = pa.DictionaryArray.from_arrays(
        pa.array(kind_idx.astype(np.int32)), pa.array(["text", "image", "audio"])
    ).cast(pa.string())
    words = rng.integers(0, 997, (2, total))
    text = pc.binary_join_element_wise(
        "tok", pc.cast(pa.array(words[0]), pa.string()),
        " word", pc.cast(pa.array(words[1]), pa.string()), " the data point", "")
    text = pc.if_else(pa.array(is_text), text, pa.nulls(total, pa.string()))
    raw = rng.integers(0, 256, (total, 8), dtype=np.uint8)
    hexed = np.empty((total, 23), dtype=np.uint8)
    hexed[:, :7] = np.frombuffer(b"blob://", dtype=np.uint8)
    hexed[:, 7::2] = HEX[raw >> 4]
    hexed[:, 8::2] = HEX[raw & 15]
    media = pc.if_else(pa.array(~is_text), _fixed_width_strings(hexed),
                       pa.nulls(total, pa.string()))
    list_offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=list_offsets[1:])
    pos = np.arange(total, dtype=np.int32) - np.repeat(list_offsets[:-1], n_spans)
    offset = pos * 16 + rng.integers(0, 16, total, dtype=np.int32)
    spans = pa.ListArray.from_arrays(
        pa.array(list_offsets),
        pa.StructArray.from_arrays([kind, text, media, pa.array(offset)],
                                   ["kind", "text", "media_ref", "offset"]))
    doc_id = pc.binary_join_element_wise(
        "doc", pc.utf8_lpad(pc.cast(pa.array(np.arange(n_docs)), pa.string()), 12, "0"), "")
    return pa.table({"doc_id": doc_id, "spans": spans,
                     "lon": pa.array(lon), "lat": pa.array(lat)})


def write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files (one input split each)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)

    def write(i: int) -> None:
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:04d}.parquet")

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(write, range(n_files)))


# Row counts of the registry's sf0.1 tables.  Keys run 0..n-1 as in the
# registry's test tables, because the queries derive each row's lon/lat from
# its integer key (sources.synth.lonlat_steps); the seed draws every other
# column (timestamps, values, lengths, languages).
SF_ROWS = {"documents": 5000, "events": 100000}
_LANGS = ["en", "es", "fr", "de", "pt"]
_EVENT_TYPES = ["click", "view", "error", "purchase", "scroll"]


def sf_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The registry tables the ``cell_queries`` mix reads, shaped like the
    sf0.1 test tables (``scale`` shrinks the row counts)."""
    rng = np.random.default_rng([seed, 2])
    n_doc, n_ev = (max(10, int(n * scale)) for n in SF_ROWS.values())
    n_chars = rng.integers(40, 560, n_doc)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pc.binary_join_element_wise(
            "doc text ", pc.cast(pa.array(rng.integers(0, 10**6, n_doc)), pa.string()), ""),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)]),
        "source": pc.binary_join_element_wise(
            "src", pc.cast(pa.array(rng.integers(0, 20, n_doc)), pa.string()), ""),
        "n_chars": pa.array(n_chars.astype(np.int64)),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86400 * 10**6, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", ""),
    })
    return {"documents": documents, "events": events}
