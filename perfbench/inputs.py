"""Seeded inputs. The same seed always yields the same bytes; another seed
yields another input. The engine only ever sees the files written here.

The engine's own generators (``generate_pages``, ``synthetic_edges``) take
no seed, so both inputs are drawn here with NumPy: the pages with
``generate_pages``' schema, HTML template and link rule, the baskets with
TPC-H's ``lineitem`` shape. The link and basket structure comes from a
fixed generator and the seed relabels it (a seeded bijection of page and
part ids, plus the page text), so every seed gives an isomorphic graph:
the same amount of work under different ids, hash placements and
tie-breaks, and run-to-run spread measures the engine, not the input size.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "graph vertex edge crawl page link rank spark shard batch stream index "
    "token corpus anchor query table join merge sort scan hash tree node label"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "it", "nl"]
EPOCH_2022_US = 1_640_995_200 * 1_000_000


class Pages:
    """A crawl snapshot: ``pages(url, warc_ts, html, text, lang)``.

    Page ``i`` links to ``floor(i * u^2)`` for 1..12 uniform ``u`` — the
    quadratic bias toward old pages gives power-law in-degree. Its public id
    and host are seeded. ``src``/``dst`` keep the ground-truth links as page
    indices, duplicates included, for the checks.
    """

    def __init__(self, n_pages: int, seed: int, max_out: int = 12):
        shape = np.random.default_rng(0)
        out_deg = 1 + shape.integers(0, max_out, n_pages)
        src = np.repeat(np.arange(n_pages), out_deg)
        dst = np.floor(src * shape.random(src.size) ** 2).astype(np.int64)
        keep = dst != src
        self.src, self.dst = src[keep], dst[keep]
        self.body_len = shape.integers(12, 41, n_pages)

        rng = np.random.default_rng([seed, 1])
        n_sites = max(4, n_pages // 50)
        self.label = rng.permutation(n_pages)
        self.site = np.floor(n_sites * rng.random(n_pages) ** 3).astype(np.int64)
        self.urls = [f"https://site{s}.example/p{p}" for s, p in zip(self.site, self.label)]
        self.lang = rng.integers(0, len(LANGS), n_pages)
        self.body_words = rng.integers(0, len(WORDS), int(self.body_len.sum()))

    def write(self, path: str, n_files: int) -> None:
        n = len(self.urls)
        starts = np.searchsorted(self.src, np.arange(n + 1))
        wstart = np.concatenate([[0], np.cumsum(self.body_len)])
        html, text = [], []
        for i in range(n):
            title = f"Page {self.label[i]} of site {self.site[i]}"
            body = " ".join(WORDS[w] for w in self.body_words[wstart[i]:wstart[i + 1]])
            targets = self.dst[starts[i]:starts[i + 1]]
            anchors = [f"Link to page {self.label[t]}" for t in targets]
            items = "".join(
                f'<li><a href="{self.urls[t]}">{a}</a></li>' for t, a in zip(targets, anchors)
            )
            html.append(
                f'<!DOCTYPE html><html lang="{LANGS[self.lang[i]]}"><head><meta charset="utf-8">'
                f"<title>{title}</title></head><body><h1>{title}</h1><p>{body}</p>"
                f"<nav><ul>{items}</ul></nav></body></html>".encode()
            )
            text.append("\n".join([title, body, *anchors]))
        table = pa.table({
            "url": pa.array(self.urls, pa.string()),
            "warc_ts": pa.array(EPOCH_2022_US + np.arange(n) * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([LANGS[x] for x in self.lang], pa.string()),
        })
        os.makedirs(path, exist_ok=True)
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
        per = math.ceil(n / n_files)
        for j in range(n_files):
            pq.write_table(table.slice(j * per, per), os.path.join(path, f"part-{j:03d}.parquet"))


def write_lineitem(sf_dir: str, n_orders: int, n_parts: int, seed: int) -> None:
    """TPC-H-shaped ``lineitem(l_orderkey, l_partkey)``: 1..7 lines per order,
    parts drawn uniformly — the basket table the co-purchase graph and its
    DuckDB twins are built from. The seed permutes the part keys."""
    shape = np.random.default_rng(0)
    lines = shape.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    part = shape.integers(0, n_parts, orderkey.size)
    partkey = np.random.default_rng([seed, 2]).permutation(n_parts).astype(np.int64)[part] + 1
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"l_orderkey": orderkey, "l_partkey": partkey}),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
